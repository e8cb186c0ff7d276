"""Proximity / undershoot VARIANT checks (SURVEY.md §2.3 distance row).

Reference semantics (driver loops geomchecks.c:5266-10630 and TT.c:35775;
one-line meanings errors.c:11283-11533):

* ``geo_leline_prox``  — LELINEPROX 37 ("line end - line proximity"): an end
  node of one line within (0, tol) of ANOTHER line feature.  The same
  OPENINT point->segment template as the undershoot family, at its own
  check tolerance.
* ``geo_lbndusht``     — LBNDUSHT 38 ("unconnected line end node undershoots
  whole-degree boundary"): end node within (0, tol) of a whole-degree
  latitude or longitude line, with NO other feature node inside the connect
  box (the 'unconnected' that distinguishes it from BNDRYUNDERSHT 39,
  gated by queries/shootvariants.py).
* ``geo_vushtl_clean`` — VUSHTL_CLEAN 44 ("like vertex-line undershoot, but
  no condition if feature mid-undershoot"): an INTERIOR vertex whose turn
  angle is near-straight (>= sensitivity3, geomchecks.c:7176-7187 TurnAngle
  gate) that undershoots another line (OPENINT), suppressed when a NODE of
  the target is itself inside the tolerance (the close-node pairing branch
  geomchecks.c:7272).  Straightness here is the trig-free form
  dot > 0 AND cross^2 <= tan^2(10 deg) * dot^2 (deviation <= 10 degrees).
* ``geo_plp_fail``     — PLPFAIL 93 ("point - line coincidence failure",
  TT.c:35775: a point of a gated class with NO line within tolerance) and
  PLLPROXFAIL 96 ("point not within specified dist from int of 2 lines"):
  the required witness is a proper line x line crossing point.
* ``geo_lez_prox_3d``  — LEZ_PROX_3D 82 ("apply check L2D_L3D_MATCH to 3d
  line features only"): 2D-coincident end pairs whose z values disagree by
  more than the tolerance, with BOTH features 3D (z <> MY2DSENTINEL
  1.3070057, GAIT_API.h:32) — the 2D-sentinel side is exempt.
* ``geo_overunder``    — OVERUNDER 80 ("any feature outside a
  perimeter-defining area or a line end node undershooting it"): point
  features outside the perimeter rectangle, plus inside line ends within
  (0, tol) of its boundary.

Fixtures: geo_lines ends/vertices with an in-module target layer planted at
0.5 m below every 23rd middle vertex (node-rescue variant every 46th);
geo_vlines terminal vertices paired with planted z-stubs (2D sentinel every
4th, z offset (id%9)*5); the %41 undershoot ends of geo_lines land 1.58 m /
0.85 m off whole-degree lines exactly when their base lattice hits a whole
degree.  All arithmetic is integer-modulo -> exact-literal division so Spark
and DuckDB agree bitwise.

Engine shapes: corridor point->segment cell joins (operators/proximity.py),
k-ring node joins for connect/rescue boxes, the codegen proper-cross cell
join for the crossing witness — no UDFs; oracles reproduce each predicate
with BETWEEN prefilters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.geodesy import sql_dist_m, sql_point_seg_dist_m
from ..operators.intersections import sql_intersection_xy, sql_proper_cross
from ..operators.pip import explode_bbox_cells, with_point_cell
from ..operators.proximity import (
    _with_kring_cells,
    point_seg_candidates,
    point_to_segment_proximity,
)
from ..sources.synthetic import oracle_cte, register_geo_views

LELINE_TOL_M = 3.0
BND_TOL_M = 2.0
CONNECT_TOL_M = 1.0
VU_TOL_M = 1.0
PLP_TOL_M = 2.0
PLL_TOL_M = 5.0
Z_SENTINEL = 1.3070057
ZTOL = 15.0
TAN2_10DEG = 0.031091204122577764  # tan(10 deg)^2, straightness gate

# --- shared derived relations (same SQL text both engines) -----------------------

# geo_lines END nodes (first + last vertex), long form
LINE_ENDS_SQL = """
SELECT line_id, 0 AS end_idx, x1 AS ex, y1 AS ey FROM geo_lines
UNION ALL
SELECT line_id, 1, x3, y3 FROM geo_lines
"""

# geo_lines segments, long form (2 per feature)
LINE_SEGS_SQL = """
SELECT line_id AS seg_line, 0 AS seg_idx, x1 AS sax, y1 AS say, x2 AS sbx, y2 AS sby FROM geo_lines
UNION ALL
SELECT line_id, 1, x2, y2, x3, y3 FROM geo_lines
"""

# ALL geo_lines vertices (connect-box targets)
LINE_VERTS_SQL = """
SELECT line_id AS vline, x1 AS vx, y1 AS vy FROM geo_lines
UNION ALL
SELECT line_id, x2, y2 FROM geo_lines
UNION ALL
SELECT line_id, x3, y3 FROM geo_lines
"""


# --- geo_leline_prox (LELINEPROX 37) ---------------------------------------------


def q_leline_prox(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_geo_views(spark, sf_dir)
    ends = spark.sql(LINE_ENDS_SQL)
    segs = spark.sql(LINE_SEGS_SQL)
    # Lower bound is 1 um, not 0: at a SHARED endpoint the point-seg distance
    # is 0 +- ~1e-10 m of engine-specific rounding noise, so a strict > 0.0
    # disagrees between Spark and DuckDB on which side of the bound the pair
    # lands.  1e-6 m is orders of magnitude above the noise floor and below
    # any genuine fixture distance; the oracle applies the same literal.
    cand = point_seg_candidates(
        ends.selectExpr("line_id AS src_id", "ex AS px", "ey AS py"),
        segs.selectExpr("seg_line AS tgt_id", "sax AS ax", "say AS ay",
                        "sbx AS bx", "sby AS by"),
        LELINE_TOL_M,
        cell_deg=0.001,
        open_interval=False,
    )
    return (
        cand.filter((F.col("src_id") != F.col("tgt_id")) & (F.col("_d") > 1e-6))
        .groupBy(
            F.col("src_id").alias("line_id"),
            F.col("tgt_id").alias("other_id"),
        )
        .agg(F.min(F.expr("CAST(floor(_d * 1000.0) AS BIGINT)")).alias("dist_mm"))
        .select(
            "line_id", "other_id",
            F.lit("LELINEPROX").alias("errtype"), "dist_mm",
        )
    )


_PSD_E = sql_point_seg_dist_m("e.ex", "e.ey", "s.sax", "s.say", "s.sbx", "s.sby")

ORACLE_LELINE_PROX = f"""
{oracle_cte('geo_lines')},
ends AS ({LINE_ENDS_SQL}),
segs AS ({LINE_SEGS_SQL})
SELECT e.line_id, s.seg_line AS other_id, 'LELINEPROX' AS errtype,
       MIN(CAST(floor({_PSD_E} * 1000.0) AS BIGINT)) AS dist_mm
FROM ends e
JOIN segs s
  ON e.ex >= LEAST(s.sax, s.sbx) - 0.0001
 AND e.ex <= GREATEST(s.sax, s.sbx) + 0.0001
 AND e.ey >= LEAST(s.say, s.sby) - 0.0001
 AND e.ey <= GREATEST(s.say, s.sby) + 0.0001
WHERE e.line_id <> s.seg_line
  AND {_PSD_E} > 0.000001 AND {_PSD_E} < {LELINE_TOL_M}
GROUP BY e.line_id, s.seg_line
"""


# --- geo_lbndusht (LBNDUSHT 38) --------------------------------------------------

_DLON_M = (
    "(abs(ex - floor(ex + 0.5)) * 111319.5 * "
    + "(1.0 + ((ey) * 0.017453292519943295) * ((ey) * 0.017453292519943295) * "
    + "(-0.5 + ((ey) * 0.017453292519943295) * ((ey) * 0.017453292519943295) * "
    + "(0.041666666666666664 + ((ey) * 0.017453292519943295) * ((ey) * 0.017453292519943295) * "
    + "(-0.001388888888888889 + ((ey) * 0.017453292519943295) * ((ey) * 0.017453292519943295) * "
    + "0.0000248015873015873)))))"
)
_DLAT_M = "(abs(ey - floor(ey + 0.5)) * 111319.5)"
_DBND_M = f"LEAST({_DLON_M}, {_DLAT_M})"


def q_lbndusht(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_geo_views(spark, sf_dir)
    ends = (
        spark.sql(LINE_ENDS_SQL)
        .withColumn("dbnd", F.expr(_DBND_M))
        .filter((F.col("dbnd") > 0.0) & (F.col("dbnd") < BND_TOL_M))
    )
    verts = spark.sql(LINE_VERTS_SQL)
    e = _with_kring_cells(ends, "ex", "ey", 0.0001)
    v = with_point_cell(verts, "vx", "vy", 0.0001)
    d = F.expr(sql_dist_m("ex", "ey", "vx", "vy"))
    connected = (
        e.join(v, "cell")
        .filter((F.col("line_id") != F.col("vline")) & (d < CONNECT_TOL_M))
        .select("line_id", "end_idx")
        .distinct()
    )
    return (
        ends.join(connected, ["line_id", "end_idx"], "left_anti")
        .select(
            "line_id", "end_idx",
            F.lit("LBNDUSHT").alias("errtype"),
            F.expr("CAST(floor(dbnd * 1000.0) AS BIGINT)").alias("dist_mm"),
        )
    )


_D_EV = sql_dist_m("e.ex", "e.ey", "v.vx", "v.vy")

ORACLE_LBNDUSHT = f"""
{oracle_cte('geo_lines')},
ends AS (
  SELECT line_id, end_idx, ex, ey, {_DBND_M} AS dbnd
  FROM ({LINE_ENDS_SQL})
),
verts AS ({LINE_VERTS_SQL})
SELECT e.line_id, e.end_idx, 'LBNDUSHT' AS errtype,
       CAST(floor(e.dbnd * 1000.0) AS BIGINT) AS dist_mm
FROM ends e
WHERE e.dbnd > 0.0 AND e.dbnd < {BND_TOL_M}
  AND NOT EXISTS (
    SELECT 1 FROM verts v
    WHERE v.vline <> e.line_id
      AND v.vx BETWEEN e.ex - 0.0005 AND e.ex + 0.0005
      AND v.vy BETWEEN e.ey - 0.0005 AND e.ey + 0.0005
      AND {_D_EV} < {CONNECT_TOL_M}
)
"""


# --- geo_vushtl_clean (VUSHTL_CLEAN 44) ------------------------------------------

# target layer: horizontal 2-vertex segments 0.5 m above every 23rd middle
# vertex; the 46th variant anchors its WEST node at the vertex column so the
# close-node rescue suppresses the condition.
VU_TARGETS_SQL = """
SELECT
  line_id AS tid,
  CASE WHEN line_id % 46 = 0 THEN x2 ELSE x2 - 0.001 END AS tax,
  y2 + 0.0000045 AS tay,
  x2 + 0.001 AS tbx,
  y2 + 0.0000045 AS tby
FROM geo_lines WHERE line_id % 23 = 0
"""

# straight interior vertices of geo_lines (trig-free 10-degree gate)
_STRAIGHT = (
    "((x2 - x1) * (x3 - x2) + (y2 - y1) * (y3 - y2)) > 0.0"
    " AND ((x2 - x1) * (y3 - y2) - (y2 - y1) * (x3 - x2))"
    "   * ((x2 - x1) * (y3 - y2) - (y2 - y1) * (x3 - x2))"
    f" <= {TAN2_10DEG} * (((x2 - x1) * (x3 - x2) + (y2 - y1) * (y3 - y2))"
    "   * ((x2 - x1) * (x3 - x2) + (y2 - y1) * (y3 - y2)))"
)

VU_VERTS_SQL = f"""
SELECT line_id, x2 AS vx, y2 AS vy FROM geo_lines WHERE {_STRAIGHT}
"""


def q_vushtl_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_geo_views(spark, sf_dir)
    verts = spark.sql(VU_VERTS_SQL)
    targets = spark.sql(VU_TARGETS_SQL)
    pairs = point_to_segment_proximity(
        verts.selectExpr("line_id AS src_id", "vx AS px", "vy AS py"),
        targets.selectExpr("tid AS tgt_id", "tax AS ax", "tay AS ay",
                           "tbx AS bx", "tby AS by"),
        VU_TOL_M,
        cell_deg=0.001,
    )
    tnodes = targets.selectExpr("tid", "tax AS nx", "tay AS ny").unionByName(
        targets.selectExpr("tid", "tbx AS nx", "tby AS ny")
    )
    vk = _with_kring_cells(verts, "vx", "vy", 0.0001)
    nk = with_point_cell(tnodes, "nx", "ny", 0.0001)
    d = F.expr(sql_dist_m("vx", "vy", "nx", "ny"))
    rescued = (
        vk.join(nk, "cell")
        .filter(d < VU_TOL_M)
        .select("line_id")
        .distinct()
    )
    return (
        pairs.withColumnRenamed("src_id", "line_id")
        .join(rescued, "line_id", "left_anti")
        .select(
            "line_id", F.col("tgt_id").alias("other_id"),
            F.lit("VUSHTL_CLEAN").alias("errtype"), "dist_mm",
        )
    )


_PSD_V = sql_point_seg_dist_m("v.vx", "v.vy", "t.tax", "t.tay", "t.tbx", "t.tby")
_D_VN = sql_dist_m("v.vx", "v.vy", "n.nx", "n.ny")

ORACLE_VUSHTL_CLEAN = f"""
{oracle_cte('geo_lines')},
verts AS ({VU_VERTS_SQL}),
targets AS ({VU_TARGETS_SQL}),
tnodes AS (
  SELECT tid, tax AS nx, tay AS ny FROM targets
  UNION ALL
  SELECT tid, tbx, tby FROM targets
)
SELECT v.line_id, t.tid AS other_id, 'VUSHTL_CLEAN' AS errtype,
       MIN(CAST(floor({_PSD_V} * 1000.0) AS BIGINT)) AS dist_mm
FROM verts v
JOIN targets t
  ON v.vx >= LEAST(t.tax, t.tbx) - 0.0001
 AND v.vx <= GREATEST(t.tax, t.tbx) + 0.0001
 AND v.vy >= LEAST(t.tay, t.tby) - 0.0001
 AND v.vy <= GREATEST(t.tay, t.tby) + 0.0001
WHERE {_PSD_V} > 0.0 AND {_PSD_V} < {VU_TOL_M}
  AND NOT EXISTS (
    SELECT 1 FROM tnodes n
    WHERE n.nx BETWEEN v.vx - 0.0005 AND v.vx + 0.0005
      AND n.ny BETWEEN v.vy - 0.0005 AND v.vy + 0.0005
      AND {_D_VN} < {VU_TOL_M}
)
GROUP BY v.line_id, t.tid
"""


# --- geo_plp_fail (PLPFAIL 93 / PLLPROXFAIL 96) ----------------------------------


def _guarded_xy() -> tuple[str, str]:
    """sql_intersection_xy with a zero-denominator guard.

    Mathematically the proper-cross filter already implies denom <> 0, but
    under ANSI mode a physical plan is free to evaluate the projection on
    rows a later filter would drop (observed once under AQE), which raises
    DIVIDE_BY_ZERO.  The CASE is a no-op for every surviving row and is
    applied verbatim in the oracle, so values stay bit-identical.
    """
    ix, iy = sql_intersection_xy()
    denom = "((_bx - _ax) * (_dy - _cy) - (_by - _ay) * (_dx - _cx))"
    return (
        f"CASE WHEN {denom} = 0.0 THEN 0.0 ELSE {ix} END",
        f"CASE WHEN {denom} = 0.0 THEN 0.0 ELSE {iy} END",
    )


def _crossings(spark: SparkSession) -> DataFrame:
    """Proper crossings among geo_lines segments (codegen cell join)."""
    segs = spark.sql(LINE_SEGS_SQL)
    a = segs.selectExpr(
        "seg_line AS id_a", "seg_idx AS si_a",
        "sax AS _ax", "say AS _ay", "sbx AS _bx", "sby AS _by",
    )
    a = (
        a.withColumn("_mnx", F.least("_ax", "_bx"))
        .withColumn("_mxx", F.greatest("_ax", "_bx"))
        .withColumn("_mny", F.least("_ay", "_by"))
        .withColumn("_mxy", F.greatest("_ay", "_by"))
    )
    b = segs.selectExpr(
        "seg_line AS id_b", "seg_idx AS si_b",
        "sax AS _cx", "say AS _cy", "sbx AS _dx", "sby AS _dy",
    )
    b = (
        b.withColumn("_mnx2", F.least("_cx", "_dx"))
        .withColumn("_mxx2", F.greatest("_cx", "_dx"))
        .withColumn("_mny2", F.least("_cy", "_dy"))
        .withColumn("_mxy2", F.greatest("_cy", "_dy"))
    )
    ac = explode_bbox_cells(a, "_mnx", "_mxx", "_mny", "_mxy", 0.01)
    bc = explode_bbox_cells(b, "_mnx2", "_mxx2", "_mny2", "_mxy2", 0.01)
    ix, iy = _guarded_xy()
    return (
        ac.join(bc, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            (F.col("_mnx") <= F.col("_mxx2")) & (F.col("_mxx") >= F.col("_mnx2"))
            & (F.col("_mny") <= F.col("_mxy2")) & (F.col("_mxy") >= F.col("_mny2"))
        )
        .filter(F.expr(sql_proper_cross()))
        .select(F.expr(ix).alias("cx"), F.expr(iy).alias("cy"))
        .dropDuplicates(["cx", "cy"])
    )


def q_plp_fail(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_geo_views(spark, sf_dir)
    sites = spark.table("geo_sites")
    segs = spark.sql(LINE_SEGS_SQL)

    pts_a = sites.filter("fcode = 'AD010'").selectExpr(
        "site_id AS src_id", "lon AS px", "lat AS py"
    )
    covered_a = point_seg_candidates(
        pts_a,
        segs.selectExpr("seg_line AS tgt_id", "sax AS ax", "say AS ay",
                        "sbx AS bx", "sby AS by"),
        PLP_TOL_M,
        cell_deg=0.001,
        open_interval=False,
    ).select("src_id").distinct()
    plp = pts_a.join(covered_a, "src_id", "left_anti").select(
        F.col("src_id").alias("site_id"), F.lit("PLPFAIL").alias("errtype")
    )

    pts_b = sites.filter("fcode = 'AM010'").selectExpr(
        "site_id", "lon AS px", "lat AS py"
    )
    # localCheckpoint: the crossing set is tiny (thousands of rows) and
    # cutting the lineage stops the optimizer from inlining the cell-key
    # projection above the un-filtered join (ANSI overflow on huge t values
    # evaluated speculatively for near-parallel candidate pairs).
    xings = _crossings(spark).localCheckpoint()
    pk = _with_kring_cells(pts_b, "px", "py", 0.0005)
    xk = with_point_cell(xings, "cx", "cy", 0.0005)
    d = F.expr(sql_dist_m("px", "py", "cx", "cy"))
    near_x = (
        pk.join(xk, "cell").filter(d < PLL_TOL_M).select("site_id").distinct()
    )
    pll = pts_b.join(near_x, "site_id", "left_anti").select(
        "site_id", F.lit("PLLPROXFAIL").alias("errtype")
    )
    return plp.unionByName(pll)


_PSD_P = sql_point_seg_dist_m("p.lon", "p.lat", "s.sax", "s.say", "s.sbx", "s.sby")
_D_PX = sql_dist_m("p.lon", "p.lat", "x.cx", "x.cy")


def _sub_ab(s: str) -> str:
    """Rebind kernel placeholders to the a/b self-join aliases."""
    for old, new in (
        ("_ax", "a.sax"), ("_ay", "a.say"), ("_bx", "a.sbx"), ("_by", "a.sby"),
        ("_cx", "b.sax"), ("_cy", "b.say"), ("_dx", "b.sbx"), ("_dy", "b.sby"),
    ):
        s = s.replace(old, new)
    return s


# The xings self-join carries an equi cell key (same 0.01-deg grid as the
# engine's explode_bbox_cells) rather than a pure interval ON: DuckDB's
# IEJoin path hits an internal "flat vector" assertion on this join shape,
# and the hash cell join is also the faster plan — same trade as the
# coverage-family oracles (queries/coverageq.py).
ORACLE_PLP_FAIL = f"""
{oracle_cte('geo_sites', 'geo_lines')},
segs AS ({LINE_SEGS_SQL}),
segc_pre AS (
  SELECT *, LEAST(sax, sbx) AS _mnx, GREATEST(sax, sbx) AS _mxx,
         LEAST(say, sby) AS _mny, GREATEST(say, sby) AS _mxy
  FROM segs
),
segc_x AS (
  SELECT *, unnest(generate_series(CAST(floor(_mnx / 0.01) AS BIGINT),
                                   CAST(floor(_mxx / 0.01) AS BIGINT))) AS cellx
  FROM segc_pre
),
segc AS MATERIALIZED (
  SELECT *, unnest(generate_series(CAST(floor(_mny / 0.01) AS BIGINT),
                                   CAST(floor(_mxy / 0.01) AS BIGINT))) AS celly
  FROM segc_x
),
xings AS (
  SELECT DISTINCT {_sub_ab(_guarded_xy()[0])} AS cx,
         {_sub_ab(_guarded_xy()[1])} AS cy
  FROM segc a JOIN segc b
    ON a.cellx = b.cellx AND a.celly = b.celly AND a.seg_line < b.seg_line
  WHERE a._mnx <= b._mxx AND a._mxx >= b._mnx
    AND a._mny <= b._mxy AND a._mxy >= b._mny
    AND {_sub_ab(sql_proper_cross())}
)
SELECT p.site_id, 'PLPFAIL' AS errtype
FROM geo_sites p
WHERE p.fcode = 'AD010'
  AND NOT EXISTS (
    SELECT 1 FROM segs s
    WHERE p.lon >= LEAST(s.sax, s.sbx) - 0.0001
      AND p.lon <= GREATEST(s.sax, s.sbx) + 0.0001
      AND p.lat >= LEAST(s.say, s.sby) - 0.0001
      AND p.lat <= GREATEST(s.say, s.sby) + 0.0001
      AND {_PSD_P} >= 0.0 AND {_PSD_P} < {PLP_TOL_M}
)
UNION ALL
SELECT p.site_id, 'PLLPROXFAIL' AS errtype
FROM geo_sites p
WHERE p.fcode = 'AM010'
  AND NOT EXISTS (
    SELECT 1 FROM xings x
    WHERE x.cx BETWEEN p.lon - 0.001 AND p.lon + 0.001
      AND x.cy BETWEEN p.lat - 0.001 AND p.lat + 0.001
      AND {_D_PX} < {PLL_TOL_M}
)
"""


# --- geo_lez_prox_3d (LEZ_PROX_3D 82) --------------------------------------------

LEZ_ENDS_SQL = """
SELECT line_id, vidx, x AS ex, y AS ey, z AS ez
FROM geo_vlines
WHERE vidx = 0 OR vidx = 1 + (line_id % 49)
"""

LEZ_STUBS_SQL = """
SELECT line_id AS sid, x AS sx, y AS sy,
  CASE WHEN line_id % 4 = 0 THEN 1.3070057
       ELSE z + CAST(line_id % 9 AS DOUBLE) * 5.0 END AS sz
FROM geo_vlines WHERE vidx = 1 + (line_id % 49)
"""


def q_lez_prox_3d(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_geo_views(spark, sf_dir)
    ends = spark.sql(LEZ_ENDS_SQL).filter(F.col("ez") != Z_SENTINEL)
    stubs = spark.sql(LEZ_STUBS_SQL).filter(F.col("sz") != Z_SENTINEL)
    ek = _with_kring_cells(ends, "ex", "ey", 0.0001)
    sk = with_point_cell(stubs, "sx", "sy", 0.0001)
    d = F.expr(sql_dist_m("ex", "ey", "sx", "sy"))
    return (
        ek.join(sk, "cell")
        .filter((d < CONNECT_TOL_M) & (F.abs(F.col("ez") - F.col("sz")) > ZTOL))
        .select(
            "line_id", "vidx", F.col("sid").alias("other_id"),
            F.lit("LEZ_PROX_3D").alias("errtype"),
            F.expr("CAST(floor(abs(ez - sz) * 1000.0) AS BIGINT)").alias("zdif_mm"),
        )
        .dropDuplicates(["line_id", "vidx", "other_id"])
    )


_D_ES = sql_dist_m("e.ex", "e.ey", "s.sx", "s.sy")

ORACLE_LEZ_PROX_3D = f"""
{oracle_cte('geo_vlines')},
ends AS ({LEZ_ENDS_SQL}),
stubs AS ({LEZ_STUBS_SQL})
SELECT DISTINCT e.line_id, e.vidx, s.sid AS other_id,
       'LEZ_PROX_3D' AS errtype,
       CAST(floor(abs(e.ez - s.sz) * 1000.0) AS BIGINT) AS zdif_mm
FROM ends e
JOIN stubs s
  ON s.sx BETWEEN e.ex - 0.0005 AND e.ex + 0.0005
 AND s.sy BETWEEN e.ey - 0.0005 AND e.ey + 0.0005
WHERE e.ez <> {Z_SENTINEL} AND s.sz <> {Z_SENTINEL}
  AND {_D_ES} < {CONNECT_TOL_M}
  AND abs(e.ez - s.sz) > {ZTOL}
"""


# --- geo_overunder (OVERUNDER 80) ------------------------------------------------

B_XLO = 10.2500017
B_XHI = 13.4990041
B_YLO = 40.2500013
B_YHI = 43.4990037

_MLON_AT = (
    "(111319.5 * (1.0 + ((lat) * 0.017453292519943295) * ((lat) * 0.017453292519943295) * "
    "(-0.5 + ((lat) * 0.017453292519943295) * ((lat) * 0.017453292519943295) * "
    "(0.041666666666666664 + ((lat) * 0.017453292519943295) * ((lat) * 0.017453292519943295) * "
    "(-0.001388888888888889 + ((lat) * 0.017453292519943295) * ((lat) * 0.017453292519943295) * "
    "0.0000248015873015873)))))"
)

_D_PERIM = (
    f"LEAST((lon - {B_XLO}) * {_MLON_AT}, ({B_XHI} - lon) * {_MLON_AT},"
    f" (lat - {B_YLO}) * 111319.5, ({B_YHI} - lat) * 111319.5)"
)


def q_overunder(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_geo_views(spark, sf_dir)
    sites = spark.table("geo_sites")
    outside = sites.filter(
        (F.col("lon") < B_XLO) | (F.col("lon") >= B_XHI)
        | (F.col("lat") < B_YLO) | (F.col("lat") >= B_YHI)
    ).select(
        F.col("site_id").alias("fid"),
        F.lit("OVERUNDER_OUT").alias("errtype"),
        F.lit(0).cast("long").alias("dist_mm"),
    )
    ends = (
        spark.sql(LINE_ENDS_SQL)
        .selectExpr("line_id", "end_idx", "ex AS lon", "ey AS lat")
        .filter(
            (F.col("lon") > B_XLO) & (F.col("lon") < B_XHI)
            & (F.col("lat") > B_YLO) & (F.col("lat") < B_YHI)
        )
        .withColumn("dper", F.expr(_D_PERIM))
        .filter((F.col("dper") > 0.0) & (F.col("dper") < CONNECT_TOL_M))
        .select(
            F.col("line_id").alias("fid"),
            F.lit("OVERUNDER_USHT").alias("errtype"),
            F.expr("CAST(floor(dper * 1000.0) AS BIGINT)").alias("dist_mm"),
        )
    )
    return outside.unionByName(ends)


ORACLE_OVERUNDER = f"""
{oracle_cte('geo_sites', 'geo_lines')}
SELECT site_id AS fid, 'OVERUNDER_OUT' AS errtype, CAST(0 AS BIGINT) AS dist_mm
FROM geo_sites
WHERE lon < {B_XLO} OR lon >= {B_XHI} OR lat < {B_YLO} OR lat >= {B_YHI}
UNION ALL
SELECT line_id AS fid, 'OVERUNDER_USHT' AS errtype,
       CAST(floor({_D_PERIM} * 1000.0) AS BIGINT) AS dist_mm
FROM (
  SELECT line_id, ex AS lon, ey AS lat FROM ({LINE_ENDS_SQL})
)
WHERE lon > {B_XLO} AND lon < {B_XHI} AND lat > {B_YLO} AND lat < {B_YHI}
  AND {_D_PERIM} > 0.0 AND {_D_PERIM} < {CONNECT_TOL_M}
"""


QUERIES = {
    "geo_leline_prox": q_leline_prox,
    "geo_lbndusht": q_lbndusht,
    "geo_vushtl_clean": q_vushtl_clean,
    "geo_plp_fail": q_plp_fail,
    "geo_lez_prox_3d": q_lez_prox_3d,
    "geo_overunder": q_overunder,
}

ORACLES = {
    "geo_leline_prox": ORACLE_LELINE_PROX,
    "geo_lbndusht": ORACLE_LBNDUSHT,
    "geo_vushtl_clean": ORACLE_VUSHTL_CLEAN,
    "geo_plp_fail": ORACLE_PLP_FAIL,
    "geo_lez_prox_3d": ORACLE_LEZ_PROX_3D,
    "geo_overunder": ORACLE_OVERUNDER,
}
