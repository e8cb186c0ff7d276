"""Intersection VARIANT checks across line/area/model-poly layers.

Reference semantics (drivers PerformLinearRelatedChecks geomchecks.c:12715,
PerformArealRelatedChecks geomchecks.c:39633; one-line meanings
errors.c:11275-11533):

* ``geo_cut_int``      — CUT_INT 15 (errors.c:11320 "cut-out intersects
  parent feature outer ring"): an inner-ring edge properly crosses an edge
  of its OWN outer ring (hole escapes the face).
* ``geo_laiex``        — LAIEX 125 (errors.c:11311 "line - area
  intersection with 3rd feature exception"): a line x area-perimeter
  crossing is a condition UNLESS an exception-class point feature sits at
  the crossing (within tolerance).
* ``geo_lfnoint``      — LFNOINT 126 (errors.c:11357 "line fails to
  intersect another line ... and no end node on 1/4 degree line"): lines
  with NO proper crossing against any other line whose end nodes also do
  not lie on a quarter-degree lattice line (the edge-of-cell excuse,
  PointOnQuarterDegreeBoundary TT.c:1400).
* ``geo_areaintarea``  — AREAINTAREA 129 (errors.c:11318 "areal - areal
  intersection of edges"): perimeter-edge proper crossings between two
  distinct areals (reported as the crossing pair + count, where
  AOVERLAPA/geo_area_overlap reports containment-or-overlap).
* ``geo_llintnoend``   — LLINTNOEND 133 (errors.c:11308 "two lines
  intersect, pt of intersection is away from either primary participant
  end node"): crossing point further than tolerance (meter frame) from
  ALL four primary end nodes — the tolerance-band variant of the exact
  LLNOENDINT 128 already gated by queries/variantq.py.
* ``geo_lmint``        — LMINT 232 (errors.c:11312 "line - model
  intersection"): line segments crossing edges of the SEEIT "model
  polygon" layer (ThePolys share_linux.h:824; the 3-D triangle layer of
  queries/compositionq.py).
* ``geo_nonodeovlp``   — NONODEOVLP 159 (errors.c:11305 "line, area have
  overlapping edge without common node"): a line segment collinear with an
  area perimeter edge, positive-length overlap, sharing NO quantized node
  with it (EdgesOverlap geomchecks.c:36118 without the common-vertex
  escape).

Fixtures (in-module, derived from geo_vareas / geo_areas / geo_lines /
compositionq.POLYS_SQL): every 18th hole ring is shifted up half the face
height so it crosses the outer top chain; exception points are planted at
every 4th line x area crossing; every 11th area gets a mid-edge collinear
overlap segment that shares no node.  All arithmetic is integer-modulo ->
exact-literal division so both engines agree bitwise.

Engine shapes: per-feature equi-join for the cutout-vs-own-ring test
(intrinsically same-feature), codegen cell joins (explode_bbox_cells +
proper-cross) for every cross-feature crossing, k-ring point joins for the
exception suppression — no UDFs.  DuckDB oracles use the same 0.01-deg
cell equi-key for self-joins (IEJoin avoidance + speed, see
queries/coverageq.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.geodesy import sql_coslat_poly, sql_dist_m
from ..operators.intersections import sql_intersection_xy, sql_proper_cross
from ..operators.pip import explode_bbox_cells, with_point_cell
from ..operators.proximity import _with_kring_cells
from ..sources.synthetic import GEO_VIEWS, oracle_cte, register_geo_views
from .compositionq import POLYS_SQL

CELL = 0.01
EXC_TOL_M = 1.0          # LAIEX exception-point suppression radius
NOEND_TOL_M = 2.0        # LLINTNOEND distance-from-end-node tolerance
QTR_EPS = 0.0000004      # quarter-degree-line membership (in quarter units)
COLL_EPS = 1e-12         # collinearity cross-product bound (deg^2)


def _sub(s: str, amap: dict[str, str]) -> str:
    for old, new in amap.items():
        s = s.replace(old, new)
    return s


_AB = {"_ax": "a.ax", "_ay": "a.ay", "_bx": "a.bx", "_by": "a.by",
       "_cx": "b.ax", "_cy": "b.ay", "_dx": "b.bx", "_dy": "b.by"}


def _cellify_sql(src: str, out: str) -> str:
    """DuckDB CTE: explode segment bboxes into 0.01-deg cells (hash-join key)."""
    return f"""
{out}_pre AS (
  SELECT *, LEAST(ax, bx) AS _mnx, GREATEST(ax, bx) AS _mxx,
         LEAST(ay, by) AS _mny, GREATEST(ay, by) AS _mxy
  FROM {src}
),
{out}_x AS (
  SELECT *, unnest(generate_series(CAST(floor(_mnx / {CELL}) AS BIGINT),
                                   CAST(floor(_mxx / {CELL}) AS BIGINT))) AS cellx
  FROM {out}_pre
),
{out} AS MATERIALIZED (
  SELECT *, unnest(generate_series(CAST(floor(_mny / {CELL}) AS BIGINT),
                                   CAST(floor(_mxy / {CELL}) AS BIGINT))) AS celly
  FROM {out}_x
)
"""


def _seg_cells(df: DataFrame) -> DataFrame:
    """Spark twin of _cellify_sql over columns (ax, ay, bx, by)."""
    df = (
        df.withColumn("_mnx", F.least("ax", "bx"))
        .withColumn("_mxx", F.greatest("ax", "bx"))
        .withColumn("_mny", F.least("ay", "by"))
        .withColumn("_mxy", F.greatest("ay", "by"))
    )
    return explode_bbox_cells(df, "_mnx", "_mxx", "_mny", "_mxy", CELL)


# --- geo_cut_int (CUT_INT 15) -----------------------------------------------------

# hole rings; every 18th area's hole shifted UP by half the face height so
# its edges cross the outer top chain
HOLE2_SQL = """
SELECT area_id, vidx, x,
       CASE WHEN area_id % 18 = 0
            THEN y + CAST(2 + ((area_id * 5) % 7) AS DOUBLE) / 2000.0
            ELSE y END AS y
FROM geo_vareas WHERE ring = 1
"""

# ring -> closed segment list via lead/first windows (shared shape)
_RING_SEGS = """
SELECT area_id,
       x AS ax, y AS ay,
       COALESCE(LEAD(x) OVER w, FIRST_VALUE(x) OVER w) AS bx,
       COALESCE(LEAD(y) OVER w, FIRST_VALUE(y) OVER w) AS by
FROM {src}
WINDOW w AS (PARTITION BY area_id ORDER BY vidx)
"""


def _ring_segs_df(v: DataFrame) -> DataFrame:
    wnd = Window.partitionBy("area_id").orderBy("vidx")
    return v.select(
        "area_id",
        F.col("x").alias("ax"),
        F.col("y").alias("ay"),
        F.coalesce(F.lead("x").over(wnd), F.first("x").over(wnd)).alias("bx"),
        F.coalesce(F.lead("y").over(wnd), F.first("y").over(wnd)).alias("by"),
    )


def q_cut_int(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_geo_views(spark, sf_dir)
    holes = _ring_segs_df(spark.sql(HOLE2_SQL)).selectExpr(
        "area_id", "ax AS _ax", "ay AS _ay", "bx AS _bx", "by AS _by"
    )
    outer = _ring_segs_df(
        spark.table("geo_vareas").filter("ring = 0").select(
            "area_id", "vidx", "x", "y")
    ).selectExpr("area_id", "ax AS _cx", "ay AS _cy", "bx AS _dx", "by AS _dy")
    return (
        holes.join(outer, "area_id")
        .filter(F.expr(sql_proper_cross()))
        .groupBy("area_id")
        .agg(F.count("*").alias("ncross"))
        .selectExpr("area_id", "'CUT_INT' AS errtype",
                    "CAST(ncross AS BIGINT) AS ncross")
    )


_CROSS_HO = _sub(sql_proper_cross(),
                 {"_ax": "h.ax", "_ay": "h.ay", "_bx": "h.bx", "_by": "h.by",
                  "_cx": "o.ax", "_cy": "o.ay", "_dx": "o.bx", "_dy": "o.by"})

ORACLE_CUT_INT = f"""
{oracle_cte('geo_vareas')},
holes AS ({_RING_SEGS.format(src=f'({HOLE2_SQL})')}),
outer_r AS ({_RING_SEGS.format(src='(SELECT area_id, vidx, x, y FROM geo_vareas WHERE ring = 0)')})
SELECT h.area_id, 'CUT_INT' AS errtype, CAST(COUNT(*) AS BIGINT) AS ncross
FROM holes h JOIN outer_r o ON h.area_id = o.area_id
WHERE {_CROSS_HO}
GROUP BY h.area_id
"""


# --- geo_laiex (LAIEX 125) ----------------------------------------------------------

# vertical 2-vertex lines through each triangle's (horizontal) bottom edge
LAIEX_LINES_SQL = """
SELECT
  area_id AS lid,
  x1 + CAST((1 + area_id % 5) * (1 + area_id % 3) AS DOUBLE) / 8000.0 AS lx,
  y1 - 0.0002 AS ya,
  y1 + (y3 - y1) / 8.0 AS yb
FROM geo_areas
"""

# exception-class points at every 4th line's bottom-edge crossing (the
# crossing of a vertical line with the horizontal bottom edge is exactly
# (lx, y1))
LAIEX_EXC_SQL = """
SELECT
  area_id AS eid,
  x1 + CAST((1 + area_id % 5) * (1 + area_id % 3) AS DOUBLE) / 8000.0 AS ex,
  y1 AS ey
FROM geo_areas WHERE area_id % 4 = 0
"""

AREA_EDGES_SQL = """
SELECT area_id AS aid, x1 AS ax, y1 AS ay, x2 AS bx, y2 AS by FROM geo_areas
UNION ALL
SELECT area_id, x2, y2, x3, y3 FROM geo_areas
UNION ALL
SELECT area_id, x3, y3, x1, y1 FROM geo_areas
"""

_IX, _IY = sql_intersection_xy()


def q_laiex(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_geo_views(spark, sf_dir)
    lines = spark.sql(LAIEX_LINES_SQL).selectExpr(
        "lid", "lx AS ax", "ya AS ay", "lx AS bx", "yb AS by"
    )
    edges = spark.sql(AREA_EDGES_SQL)
    lc = _seg_cells(lines).selectExpr(
        "cell", "lid", "ax AS _ax", "ay AS _ay", "bx AS _bx", "by AS _by"
    )
    ec = _seg_cells(edges).selectExpr(
        "cell", "aid", "ax AS _cx", "ay AS _cy", "bx AS _dx", "by AS _dy"
    )
    xings = (
        lc.join(ec, "cell")
        .filter(F.expr(sql_proper_cross()))
        .select(
            "lid", "aid",
            F.expr(_IX).alias("ix"), F.expr(_IY).alias("iy"),
        )
        .dropDuplicates(["lid", "aid", "ix", "iy"])
    )
    exc = spark.sql(LAIEX_EXC_SQL)
    xk = _with_kring_cells(xings, "ix", "iy", 0.0001)
    pk = with_point_cell(exc, "ex", "ey", 0.0001)
    d = F.expr(sql_dist_m("ix", "iy", "ex", "ey"))
    # suppression is PER CROSSING: a pair is reported if ANY of its
    # crossings lacks a nearby exception point (errors.c:11311 semantics)
    suppressed = (
        xk.join(pk, "cell").filter(d < EXC_TOL_M)
        .select("lid", "aid", "ix", "iy").distinct()
    )
    return (
        xings.join(suppressed, ["lid", "aid", "ix", "iy"], "left_anti")
        .select("lid", "aid", F.lit("LAIEX").alias("errtype"))
        .distinct()
    )


_CROSS_LE = _sub(sql_proper_cross(),
                 {"_ax": "l.ax", "_ay": "l.ay", "_bx": "l.bx", "_by": "l.by",
                  "_cx": "e.ax", "_cy": "e.ay", "_dx": "e.bx", "_dy": "e.by"})
_IX_LE = _sub(_IX, {"_ax": "l.ax", "_ay": "l.ay", "_bx": "l.bx", "_by": "l.by",
                    "_cx": "e.ax", "_cy": "e.ay", "_dx": "e.bx", "_dy": "e.by"})
_IY_LE = _sub(_IY, {"_ax": "l.ax", "_ay": "l.ay", "_bx": "l.bx", "_by": "l.by",
                    "_cx": "e.ax", "_cy": "e.ay", "_dx": "e.bx", "_dy": "e.by"})
_D_XE = sql_dist_m("x.ix", "x.iy", "p.ex", "p.ey")

ORACLE_LAIEX = f"""
{oracle_cte('geo_areas')},
lines AS (
  SELECT lid, lx AS ax, ya AS ay, lx AS bx, yb AS by FROM ({LAIEX_LINES_SQL})
),
edges AS ({AREA_EDGES_SQL}),
xings AS (
  SELECT DISTINCT l.lid, e.aid, {_IX_LE} AS ix, {_IY_LE} AS iy
  FROM lines l JOIN edges e
    ON l.ax >= LEAST(e.ax, e.bx) - 0.01 AND l.ax <= GREATEST(e.ax, e.bx) + 0.01
   AND LEAST(l.ay, l.by) <= GREATEST(e.ay, e.by)
   AND GREATEST(l.ay, l.by) >= LEAST(e.ay, e.by)
  WHERE {_CROSS_LE}
)
SELECT DISTINCT x.lid, x.aid, 'LAIEX' AS errtype
FROM xings x
WHERE NOT EXISTS (
  SELECT 1 FROM ({LAIEX_EXC_SQL}) p
  WHERE p.ex BETWEEN x.ix - 0.0005 AND x.ix + 0.0005
    AND p.ey BETWEEN x.iy - 0.0005 AND x.iy + 0.0005
    AND {_D_XE} < {EXC_TOL_M}
)
"""


# --- geo_lfnoint (LFNOINT 126) -------------------------------------------------------

LINE_SEGS_SQL = """
SELECT line_id AS sid, x1 AS ax, y1 AS ay, x2 AS bx, y2 AS by FROM geo_lines
UNION ALL
SELECT line_id, x2, y2, x3, y3 FROM geo_lines
"""

_ON_QTR = (
    "(abs({e} * 4.0 - floor({e} * 4.0 + 0.5)) < " + str(QTR_EPS) + ")"
)
_END_ON_QTR = (
    f"({_ON_QTR.format(e='x1')} OR {_ON_QTR.format(e='y1')}"
    f" OR {_ON_QTR.format(e='x3')} OR {_ON_QTR.format(e='y3')})"
)


def q_lfnoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_geo_views(spark, sf_dir)
    segs = spark.sql(LINE_SEGS_SQL)
    a = _seg_cells(segs).selectExpr(
        "cell", "sid AS id_a", "ax AS _ax", "ay AS _ay", "bx AS _bx", "by AS _by"
    )
    b = _seg_cells(segs).selectExpr(
        "cell", "sid AS id_b", "ax AS _cx", "ay AS _cy", "bx AS _dx", "by AS _dy"
    )
    crossing = (
        a.join(b, "cell")
        .filter(F.col("id_a") != F.col("id_b"))
        .filter(F.expr(sql_proper_cross()))
        .select(F.col("id_a").alias("line_id"))
        .distinct()
    )
    lines = spark.table("geo_lines").filter(f"NOT {_END_ON_QTR}").select(
        "line_id"
    )
    return (
        lines.join(crossing, "line_id", "left_anti")
        .selectExpr("line_id", "'LFNOINT' AS errtype")
    )


_CROSS_AB = _sub(sql_proper_cross(), _AB)

ORACLE_LFNOINT = f"""
{oracle_cte('geo_lines')},
segs AS ({LINE_SEGS_SQL}),
{_cellify_sql('segs', 'segc').lstrip().rstrip()},
crossing AS (
  SELECT DISTINCT a.sid AS line_id
  FROM segc a JOIN segc b
    ON a.cellx = b.cellx AND a.celly = b.celly AND a.sid <> b.sid
  WHERE a._mnx <= b._mxx AND a._mxx >= b._mnx
    AND a._mny <= b._mxy AND a._mxy >= b._mny
    AND {_CROSS_AB}
)
SELECT line_id, 'LFNOINT' AS errtype
FROM geo_lines
WHERE NOT {_END_ON_QTR}
  AND line_id NOT IN (SELECT line_id FROM crossing)
"""


# --- geo_areaintarea (AREAINTAREA 129) ----------------------------------------------

# The base triangle lattice is collision-free by construction (the 719/523
# multipliers never co-collide within a scale factor), so a SECOND areal
# layer is derived: every 3rd triangle shifted by (w/2, h/4) — guaranteed
# edge crossings against its source and its source's neighbors.  ids offset
# by 10^9 to keep the two layers distinct.
AREAS_B_SQL = """
SELECT
  area_id + 1000000000 AS aid,
  x1 + (x2 - x1) / 2.0 AS ax1, y1 + (y3 - y1) / 4.0 AS ay1,
  x2 + (x2 - x1) / 2.0 AS ax2, y2 + (y3 - y1) / 4.0 AS ay2,
  x3 + (x2 - x1) / 2.0 AS ax3, y3 + (y3 - y1) / 4.0 AS ay3
FROM geo_areas WHERE area_id % 3 = 0
"""

AREA_B_EDGES_SQL = f"""
SELECT aid, ax1 AS ax, ay1 AS ay, ax2 AS bx, ay2 AS by FROM ({AREAS_B_SQL})
UNION ALL
SELECT aid, ax2, ay2, ax3, ay3 FROM ({AREAS_B_SQL})
UNION ALL
SELECT aid, ax3, ay3, ax1, ay1 FROM ({AREAS_B_SQL})
"""


def q_areaintarea(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_geo_views(spark, sf_dir)
    ea = spark.sql(AREA_EDGES_SQL)
    eb = spark.sql(AREA_B_EDGES_SQL)
    a = _seg_cells(ea).selectExpr(
        "cell", "aid AS id_a", "ax AS _ax", "ay AS _ay", "bx AS _bx", "by AS _by"
    )
    b = _seg_cells(eb).selectExpr(
        "cell", "aid AS id_b", "ax AS _cx", "ay AS _cy", "bx AS _dx", "by AS _dy"
    )
    pairs = (
        a.join(b, "cell")
        .filter(F.expr(sql_proper_cross()))
        .select(
            "id_a", "id_b",
            F.expr(_IX).alias("ix"), F.expr(_IY).alias("iy"),
        )
        .dropDuplicates(["id_a", "id_b", "ix", "iy"])
    )
    return (
        pairs.groupBy("id_a", "id_b")
        .agg(F.count("*").alias("ncross"))
        .selectExpr("id_a", "id_b", "'AREAINTAREA' AS errtype",
                    "CAST(ncross AS BIGINT) AS ncross")
    )


_IX_AB = _sub(_IX, _AB)
_IY_AB = _sub(_IY, _AB)
_CROSS_AB2 = _sub(sql_proper_cross(),
                  {"_ax": "a.ax", "_ay": "a.ay", "_bx": "a.bx", "_by": "a.by",
                   "_cx": "b.ax", "_cy": "b.ay", "_dx": "b.bx", "_dy": "b.by"})
_IX_AB2 = _sub(_IX, {"_ax": "a.ax", "_ay": "a.ay", "_bx": "a.bx", "_by": "a.by",
                     "_cx": "b.ax", "_cy": "b.ay", "_dx": "b.bx", "_dy": "b.by"})
_IY_AB2 = _sub(_IY, {"_ax": "a.ax", "_ay": "a.ay", "_bx": "a.bx", "_by": "a.by",
                     "_cx": "b.ax", "_cy": "b.ay", "_dx": "b.bx", "_dy": "b.by"})

ORACLE_AREAINTAREA = f"""
{oracle_cte('geo_areas')},
ea AS ({AREA_EDGES_SQL}),
eb AS ({AREA_B_EDGES_SQL}),
{_cellify_sql('ea', 'eac').lstrip().rstrip()},
{_cellify_sql('eb', 'ebc').lstrip().rstrip()},
xp AS (
  SELECT DISTINCT a.aid AS id_a, b.aid AS id_b,
         {_IX_AB2} AS ix, {_IY_AB2} AS iy
  FROM eac a JOIN ebc b
    ON a.cellx = b.cellx AND a.celly = b.celly
  WHERE a._mnx <= b._mxx AND a._mxx >= b._mnx
    AND a._mny <= b._mxy AND a._mxy >= b._mny
    AND {_CROSS_AB2}
)
SELECT id_a, id_b, 'AREAINTAREA' AS errtype, CAST(COUNT(*) AS BIGINT) AS ncross
FROM xp GROUP BY id_a, id_b
"""


# --- geo_llintnoend (LLINTNOEND 133) --------------------------------------------------

_MIN_END_D = (
    f"LEAST({sql_dist_m('ix', 'iy', 'ex1a', 'ey1a')},"
    f" {sql_dist_m('ix', 'iy', 'ex2a', 'ey2a')},"
    f" {sql_dist_m('ix', 'iy', 'ex1b', 'ey1b')},"
    f" {sql_dist_m('ix', 'iy', 'ex2b', 'ey2b')})"
)


def q_llintnoend(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_geo_views(spark, sf_dir)
    lines = spark.table("geo_lines")
    segs = spark.sql(LINE_SEGS_SQL)
    ends = lines.selectExpr(
        "line_id AS sid", "x1 AS ex1", "y1 AS ey1", "x3 AS ex2", "y3 AS ey2"
    )
    a = _seg_cells(segs).selectExpr(
        "cell", "sid AS id_a", "ax AS _ax", "ay AS _ay", "bx AS _bx", "by AS _by"
    )
    b = _seg_cells(segs).selectExpr(
        "cell", "sid AS id_b", "ax AS _cx", "ay AS _cy", "bx AS _dx", "by AS _dy"
    )
    xp = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.expr(sql_proper_cross()))
        .select(
            "id_a", "id_b",
            F.expr(_IX).alias("ix"), F.expr(_IY).alias("iy"),
        )
        .dropDuplicates(["id_a", "id_b", "ix", "iy"])
    )
    xp = (
        xp.join(ends.selectExpr("sid AS id_a", "ex1 AS ex1a", "ey1 AS ey1a",
                                "ex2 AS ex2a", "ey2 AS ey2a"), "id_a")
        .join(ends.selectExpr("sid AS id_b", "ex1 AS ex1b", "ey1 AS ey1b",
                              "ex2 AS ex2b", "ey2 AS ey2b"), "id_b")
    )
    return (
        xp.filter(F.expr(_MIN_END_D) > NOEND_TOL_M)
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("ncross"))
        .selectExpr("id_a", "id_b", "'LLINTNOEND' AS errtype",
                    "CAST(ncross AS BIGINT) AS ncross")
    )


ORACLE_LLINTNOEND = f"""
{oracle_cte('geo_lines')},
segs AS ({LINE_SEGS_SQL}),
{_cellify_sql('segs', 'segc').lstrip().rstrip()},
xp AS (
  SELECT DISTINCT a.sid AS id_a, b.sid AS id_b,
         {_IX_AB} AS ix, {_IY_AB} AS iy
  FROM segc a JOIN segc b
    ON a.cellx = b.cellx AND a.celly = b.celly AND a.sid < b.sid
  WHERE a._mnx <= b._mxx AND a._mxx >= b._mnx
    AND a._mny <= b._mxy AND a._mxy >= b._mny
    AND {_CROSS_AB}
),
xe AS (
  SELECT xp.id_a, xp.id_b, xp.ix, xp.iy,
         la.x1 AS ex1a, la.y1 AS ey1a, la.x3 AS ex2a, la.y3 AS ey2a,
         lb.x1 AS ex1b, lb.y1 AS ey1b, lb.x3 AS ex2b, lb.y3 AS ey2b
  FROM xp
  JOIN geo_lines la ON la.line_id = xp.id_a
  JOIN geo_lines lb ON lb.line_id = xp.id_b
)
SELECT id_a, id_b, 'LLINTNOEND' AS errtype, CAST(COUNT(*) AS BIGINT) AS ncross
FROM xe
WHERE {_MIN_END_D} > {NOEND_TOL_M}
GROUP BY id_a, id_b
"""


# --- geo_lmint (LMINT 232) ------------------------------------------------------------

POLY_EDGES_SQL = f"""
SELECT poly_id AS pid, x1 AS ax, y1 AS ay, x2 AS bx, y2 AS by FROM ({POLYS_SQL})
UNION ALL
SELECT poly_id, x2, y2, x3, y3 FROM ({POLYS_SQL})
UNION ALL
SELECT poly_id, x3, y3, x1, y1 FROM ({POLYS_SQL})
"""


def q_lmint(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_geo_views(spark, sf_dir)
    lsegs = spark.sql(LINE_SEGS_SQL)
    pedges = spark.sql(POLY_EDGES_SQL)
    lc = _seg_cells(lsegs).selectExpr(
        "cell", "sid", "ax AS _ax", "ay AS _ay", "bx AS _bx", "by AS _by"
    )
    pc = _seg_cells(pedges).selectExpr(
        "cell", "pid", "ax AS _cx", "ay AS _cy", "bx AS _dx", "by AS _dy"
    )
    return (
        lc.join(pc, "cell")
        .filter(F.expr(sql_proper_cross()))
        .select(F.col("sid").alias("line_id"), F.col("pid").alias("poly_id"))
        .distinct()
        .selectExpr("line_id", "poly_id", "'LMINT' AS errtype")
    )


_CROSS_LP = _sub(sql_proper_cross(),
                 {"_ax": "l.ax", "_ay": "l.ay", "_bx": "l.bx", "_by": "l.by",
                  "_cx": "p.ax", "_cy": "p.ay", "_dx": "p.bx", "_dy": "p.by"})

ORACLE_LMINT = f"""
{oracle_cte('geo_lines')},
lsegs AS ({LINE_SEGS_SQL}),
pedges AS ({POLY_EDGES_SQL}),
{_cellify_sql('lsegs', 'lc').lstrip().rstrip()},
{_cellify_sql('pedges', 'pc').lstrip().rstrip()}
SELECT DISTINCT l.sid AS line_id, p.pid AS poly_id, 'LMINT' AS errtype
FROM lc l JOIN pc p
  ON l.cellx = p.cellx AND l.celly = p.celly
WHERE l._mnx <= p._mxx AND l._mxx >= p._mnx
  AND l._mny <= p._mxy AND l._mxy >= p._mny
  AND {_CROSS_LP}
"""


# --- geo_nonodeovlp (NONODEOVLP 159) ---------------------------------------------------

# Collinear overlap segments on the (horizontal) bottom edge of every 11th
# area, spanning the middle third -> positive overlap, no shared node.
OVLP_LINES_SQL = """
SELECT
  area_id AS lid,
  x1 + (x2 - x1) / 3.0 AS ax,
  y1 AS ay,
  x1 + (x2 - x1) * 2.0 / 3.0 AS bx,
  y1 AS by
FROM geo_areas WHERE area_id % 11 = 0
"""

_COLL = (
    "abs((bx - ax) * (ey1 - ay) - (by - ay) * (ex1 - ax)) < {eps}"
    " AND abs((bx - ax) * (ey2 - ay) - (by - ay) * (ex2 - ax)) < {eps}"
).format(eps=COLL_EPS)

# overlap length along the dominant axis (meter frame)
_OVLP_M = (
    "CASE WHEN abs(bx - ax) >= abs(by - ay)"
    " THEN greatest(0.0, LEAST(GREATEST(ax, bx), GREATEST(ex1, ex2))"
    "                 - GREATEST(LEAST(ax, bx), LEAST(ex1, ex2)))"
    f"      * (111319.5 * {sql_coslat_poly('ay')})"
    " ELSE greatest(0.0, LEAST(GREATEST(ay, by), GREATEST(ey1, ey2))"
    "                 - GREATEST(LEAST(ay, by), LEAST(ey1, ey2)))"
    "      * 111319.5 END"
)

_NO_SHARED_NODE = (
    "NOT ((CAST(floor(ax * 1000000.0) AS BIGINT) = CAST(floor(ex1 * 1000000.0) AS BIGINT)"
    "      AND CAST(floor(ay * 1000000.0) AS BIGINT) = CAST(floor(ey1 * 1000000.0) AS BIGINT))"
    " OR (CAST(floor(ax * 1000000.0) AS BIGINT) = CAST(floor(ex2 * 1000000.0) AS BIGINT)"
    "      AND CAST(floor(ay * 1000000.0) AS BIGINT) = CAST(floor(ey2 * 1000000.0) AS BIGINT))"
    " OR (CAST(floor(bx * 1000000.0) AS BIGINT) = CAST(floor(ex1 * 1000000.0) AS BIGINT)"
    "      AND CAST(floor(by * 1000000.0) AS BIGINT) = CAST(floor(ey1 * 1000000.0) AS BIGINT))"
    " OR (CAST(floor(bx * 1000000.0) AS BIGINT) = CAST(floor(ex2 * 1000000.0) AS BIGINT)"
    "      AND CAST(floor(by * 1000000.0) AS BIGINT) = CAST(floor(ey2 * 1000000.0) AS BIGINT)))"
)


def q_nonodeovlp(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_geo_views(spark, sf_dir)
    lines = spark.sql(OVLP_LINES_SQL)
    edges = spark.sql(AREA_EDGES_SQL).selectExpr(
        "aid", "ax AS ex1", "ay AS ey1", "bx AS ex2", "by AS ey2"
    )
    lc = _seg_cells(lines)
    ec = _seg_cells(
        edges.selectExpr("aid", "ex1 AS ax", "ey1 AS ay", "ex2 AS bx", "ey2 AS by")
    ).selectExpr("cell", "aid", "ax AS ex1", "ay AS ey1", "bx AS ex2", "by AS ey2")
    joined = lc.join(ec, "cell").filter(F.expr(_COLL))
    out = (
        joined.withColumn("ovlp_m", F.expr(_OVLP_M))
        .filter((F.col("ovlp_m") > 0.0) & F.expr(_NO_SHARED_NODE))
        .select(
            "lid", "aid", F.lit("NONODEOVLP").alias("errtype"),
            F.expr("CAST(floor(ovlp_m * 1000.0) AS BIGINT)").alias("ovlp_mm"),
        )
        .groupBy("lid", "aid", "errtype")
        .agg(F.max("ovlp_mm").alias("ovlp_mm"))
    )
    return out


_COLL_LE = _sub(_COLL, {"ax": "l.ax", "ay": "l.ay", "bx": "l.bx", "by": "l.by",
                        "ex1": "e.ex1", "ey1": "e.ey1",
                        "ex2": "e.ex2", "ey2": "e.ey2"})
_OVLP_LE = _sub(_OVLP_M, {"ax": "l.ax", "ay": "l.ay", "bx": "l.bx", "by": "l.by",
                          "ex1": "e.ex1", "ey1": "e.ey1",
                          "ex2": "e.ex2", "ey2": "e.ey2"})
_NSN_LE = _sub(_NO_SHARED_NODE,
               {"ax": "l.ax", "ay": "l.ay", "bx": "l.bx", "by": "l.by",
                "ex1": "e.ex1", "ey1": "e.ey1",
                "ex2": "e.ex2", "ey2": "e.ey2"})

ORACLE_NONODEOVLP = f"""
{oracle_cte('geo_areas')},
lines AS ({OVLP_LINES_SQL}),
edges0 AS (
  SELECT aid, ax AS ex1, ay AS ey1, bx AS ex2, by AS ey2 FROM ({AREA_EDGES_SQL})
),
edges AS (
  SELECT aid, ex1, ey1, ex2, ey2,
         ex1 AS ax, ey1 AS ay, ex2 AS bx, ey2 AS by
  FROM edges0
),
{_cellify_sql('lines', 'lc').lstrip().rstrip()},
{_cellify_sql('edges', 'ec').lstrip().rstrip()}
SELECT l.lid, e.aid, 'NONODEOVLP' AS errtype,
       MAX(CAST(floor(({_OVLP_LE}) * 1000.0) AS BIGINT)) AS ovlp_mm
FROM lc l JOIN ec e
  ON l.cellx = e.cellx AND l.celly = e.celly
WHERE {_COLL_LE}
  AND ({_OVLP_LE}) > 0.0
  AND {_NSN_LE}
GROUP BY l.lid, e.aid
"""


QUERIES = {
    "geo_cut_int": q_cut_int,
    "geo_laiex": q_laiex,
    "geo_lfnoint": q_lfnoint,
    "geo_areaintarea": q_areaintarea,
    "geo_llintnoend": q_llintnoend,
    "geo_lmint": q_lmint,
    "geo_nonodeovlp": q_nonodeovlp,
}

ORACLES = {
    "geo_cut_int": ORACLE_CUT_INT,
    "geo_laiex": ORACLE_LAIEX,
    "geo_lfnoint": ORACLE_LFNOINT,
    "geo_areaintarea": ORACLE_AREAINTAREA,
    "geo_llintnoend": ORACLE_LLINTNOEND,
    "geo_lmint": ORACLE_LMINT,
    "geo_nonodeovlp": ORACLE_NONODEOVLP,
}
