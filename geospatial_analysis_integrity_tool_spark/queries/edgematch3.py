"""Edge-match family, final two variants (SURVEY.md §2.3 boundary row):

* ``geo_le_a_unm``    — LE_A_UNM_LON 182: a line END within sensitivity3 of a
  whole-degree meridian that no AREAL feature picks up on the other side
  (geomchecks.c:32244-32555).  The reference walks LatLonBase grid lines and,
  per line end near one, scans areal vertices inside the LowerTolerance box;
  a vertex on the OPPOSITE side of the meridian (majority-vertex direction
  test, geomchecks.c:32337-32396) is an unconditional match, while a vertex
  on the SAME side only matches when that area extends strictly closer to
  the meridian than the line end does (the ``fabs(rac->x - LatLonBase)``
  comparison at geomchecks.c:32410-32420).  LE_A_UNM_LAT 183 is the exact
  transpose along latitude grid lines.

* ``geo_lunm_acrs_a`` — LUNM_ACRS_A 177: a line ENDPOINT within sensitivity2
  of an areal boundary with no other line continuing on the far side of that
  boundary (geomchecks.c:3176-3338).  The reference finds the nearest areal
  boundary vertex/edge (PointToSmall/LargeArealDist2D), then looks for another
  line with a vertex within sensitivity of the endpoint whose adjacent vertex
  sits on the OPPOSITE side of the boundary edge from the ending line's
  penultimate vertex (TwoPointsOnSameSideOfLine, geomchecks.c:3245-3265);
  such a continuation suppresses the condition.

Fixtures are derived in-query from geo_edges / geo_areas with planted
matches, same-side rescues, and missing continuations; all arithmetic is
integer-modulo -> exact-literal division so Spark and DuckDB agree bitwise.
The engine runs the real distributed joins (banded lat join for the meridian
check; corridor-cell point->segment join + k-ring vertex join for the
across-area check); the oracle reproduces the predicate with BETWEEN
prefilters over the same derived relations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.geodesy import sql_dist_m, sql_point_seg_dist_m
from ..operators.pip import with_point_cell
from ..operators.proximity import _with_kring_cells, point_to_segment_proximity
from ..sources.synthetic import oracle_cte, register_geo_views

# --- geo_le_a_unm (LE_A_UNM_LON 182) --------------------------------------------

LE_TOL_M = 1.0        # LowerTolerance: end-to-area-vertex match distance
MERIDIAN = 12.0       # the LatLonBase grid line the geo_edges fixture straddles
_BAND = 0.0001        # ~11 m lat bands (cell width >= tolerance)

# Line ends: every geo_edges west end (xa = 12 - (1+eid%9) udeg) is within
# sensitivity3 of the 12E meridian; the line's majority-vertex direction is
# west (all fixture vertices west of 12E).
_LE_ENDS = "SELECT eid, xa AS px, ya AS py FROM geo_edges"

# Opposite-side (east) areal vertices: the geo_edges counterpart start, where
# present.  Every 3rd is absent, every 5th displaced 0.00045 deg (~50 m) out
# of tolerance — the unmatched plant.
_LE_EAST = (
    "SELECT eid AS aid_e, xb AS qx, yb AS qy FROM geo_edges WHERE xb IS NOT NULL"
)

# Same-side (west) areal vertices, planted for every 7th edge: the nearest
# vertex sits ~0.4 m from the line end; the area's meridian-ward extent
# (second vertex x) reaches closer to 12E than the line end only for every
# 14th edge — only those rescue the end per geomchecks.c:32410-32420.
_LE_WEST = """
SELECT
  eid AS aid_w,
  xa - 0.000002 AS wx,
  ya + 0.000003 AS wy,
  CASE WHEN eid % 14 = 0 THEN 12.0 - 0.0000005 ELSE 12.0 - 0.002 END AS w2x
FROM geo_edges WHERE eid % 7 = 0
"""


def q_le_a_unm(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_geo_views(spark, sf_dir)
    ends = spark.sql(_LE_ENDS)
    east = spark.sql(_LE_EAST)
    west = spark.sql(_LE_WEST)

    # banded lat join (cell width >= tolerance) — the same cross-tile shape as
    # PerformEdgeMatchChecks' region+neighbor scan.
    e_ends = ends.withColumn("band", F.floor(F.col("py") / _BAND))
    ring = F.expr("array(band0 - 1, band0, band0 + 1)")

    e_east = (
        east.withColumn("band0", F.floor(F.col("qy") / _BAND))
        .withColumn("band", F.explode(ring))
        .drop("band0")
    )
    d_e = F.expr(sql_dist_m("px", "py", "qx", "qy"))
    matched_east = (
        e_ends.join(e_east, "band")
        .filter(d_e < LE_TOL_M)
        .select("eid")
        .distinct()
    )

    e_west = (
        west.withColumn("band0", F.floor(F.col("wy") / _BAND))
        .withColumn("band", F.explode(ring))
        .drop("band0")
    )
    d_w = F.expr(sql_dist_m("px", "py", "wx", "wy"))
    matched_west = (
        e_ends.join(e_west, "band")
        .filter(d_w < LE_TOL_M)
        # same-side areas only rescue when they extend strictly closer to the
        # grid line than the line end (degree-space |x - base| comparison).
        .filter(
            F.expr(f"abs(w2x - {MERIDIAN}) < abs(px - {MERIDIAN})")
        )
        .select("eid")
        .distinct()
    )

    return (
        ends.join(matched_east, "eid", "left_anti")
        .join(matched_west, "eid", "left_anti")
        .select(
            "eid",
            F.expr("CAST(floor(py * 1000000.0) AS BIGINT)").alias("end_y_udeg"),
            F.lit("LE_A_UNM_LON").alias("errtype"),
        )
    )


_LE_D_E = sql_dist_m("a.px", "a.py", "b.qx", "b.qy")
_LE_D_W = sql_dist_m("a.px", "a.py", "w.wx", "w.wy")

ORACLE_LE_A_UNM = f"""
{oracle_cte('geo_edges')},
ends AS ({_LE_ENDS}),
east AS ({_LE_EAST}),
west AS ({_LE_WEST})
SELECT a.eid, CAST(floor(a.py * 1000000.0) AS BIGINT) AS end_y_udeg,
       'LE_A_UNM_LON' AS errtype
FROM ends a
WHERE NOT EXISTS (
    SELECT 1 FROM east b
    WHERE b.qy BETWEEN a.py - 0.0001 AND a.py + 0.0001
      AND {_LE_D_E} < {LE_TOL_M}
) AND NOT EXISTS (
    SELECT 1 FROM west w
    WHERE w.wy BETWEEN a.py - 0.0001 AND a.py + 0.0001
      AND {_LE_D_W} < {LE_TOL_M}
      AND abs(w.w2x - {MERIDIAN}) < abs(a.px - {MERIDIAN})
)
"""

# --- geo_lunm_acrs_a (LUNM_ACRS_A 177) ------------------------------------------

LA_TOL2_M = 1.0       # sensitivity2: endpoint-to-areal-boundary distance
LA_TOL1_M = 1.0       # sensitivity:  endpoint-to-other-line-vertex distance
_LA_CELL = 0.0005     # corridor/k-ring cell width (>= tolerances in degrees)

# Ending lines, one per geo_areas triangle: endpoint P just below the midpoint
# of the bottom edge (y1 row, x1..x1+w), penultimate vertex Q well below.
# x3 = x1 + w/2 exactly (GEO_AREAS_SQL), so P rides the bottom-edge midpoint.
_LA_ENDS = """
SELECT
  area_id AS end_id,
  x3 AS px, y1 - 0.000004 AS py,
  x3 AS qx, y1 - 0.0003   AS qy
FROM geo_areas
"""

# Candidate continuations (other lines): a vertex R within sensitivity of P
# for every even area; its adjacent vertex R2 is across the bottom edge
# (above, inside) unless area_id % 10 = 0, where the "continuation" stays on
# the SAME side — a planted false continuation the side test must reject.
_LA_CONTS = """
SELECT
  area_id + 100000000 AS cont_id,
  x3 + 0.000001 AS rx,
  CASE WHEN area_id % 10 = 0 THEN y1 - 0.000009 ELSE y1 + 0.000003 END AS ry,
  x3 + 0.000001 AS r2x,
  CASE WHEN area_id % 10 = 0 THEN y1 - 0.0003   ELSE y1 + 0.0003   END AS r2y
FROM geo_areas WHERE area_id % 2 = 0
"""

# All three boundary edges of every triangle (RawAreal perimeter walk).
_LA_EDGES = """
SELECT area_id, 0 AS eidx, x1 AS ax, y1 AS ay, x2 AS bx, y2 AS by FROM geo_areas
UNION ALL
SELECT area_id, 1 AS eidx, x2 AS ax, y2 AS ay, x3 AS bx, y3 AS by FROM geo_areas
UNION ALL
SELECT area_id, 2 AS eidx, x3 AS ax, y3 AS ay, x1 AS bx, y1 AS by FROM geo_areas
"""

# sign of cross((b-a), (p-a)): which side of the (infinite) boundary edge a
# point is on — TwoPointsOnSameSideOfLine's core (raw-degree arithmetic,
# identical both engines).
def _side(px: str, py: str) -> str:
    return (
        f"sign((bx - ax) * (({py}) - ay) - (by - ay) * (({px}) - ax))"
    )


def q_lunm_acrs_a(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_geo_views(spark, sf_dir)
    # localCheckpoint the derived fixture relations: the corridor join below
    # duplicates its inputs' expression trees several times, and the inlined
    # modular-arithmetic fixtures push generated code past janino's 64 KB
    # method limit (interpreted fallback).  Truncating lineage keeps every
    # downstream stage in whole-stage codegen.
    ends = spark.sql(_LA_ENDS).localCheckpoint()
    conts = spark.sql(_LA_CONTS).localCheckpoint()
    edges = (
        spark.sql(_LA_EDGES)
        .withColumn("seg_key", F.expr("area_id * 4 + eidx"))
        .localCheckpoint()
    )

    # 1) endpoint -> areal boundary corridor join; keep the NEAREST edge per
    #    endpoint (PointToArealDist2D argmin; ties broken by seg_key so both
    #    engines agree bitwise).
    near = point_to_segment_proximity(
        ends.select("end_id", "px", "py"),
        edges.select("seg_key", "ax", "ay", "bx", "by"),
        LA_TOL2_M,
        point_id="end_id",
        seg_id="seg_key",
        cell_deg=_LA_CELL,
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("end_id").orderBy("dist_mm", "seg_key")
    nearest = (
        near.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .join(edges, "seg_key")
        .join(ends, "end_id")
    )

    # 2) endpoint -> other-line vertex k-ring join within sensitivity.
    p_cells = _with_kring_cells(
        nearest.select("end_id", "px", "py", "qx", "qy", "ax", "ay", "bx", "by"),
        "px", "py", _LA_CELL,
    )
    c_cells = with_point_cell(conts, "rx", "ry", _LA_CELL)
    d_pr = F.expr(sql_dist_m("px", "py", "rx", "ry"))
    pairs = (
        p_cells.join(c_cells, "cell")
        .filter(d_pr < LA_TOL1_M)
        # 3) across test: penultimate vertex Q and the continuation's adjacent
        #    vertex R2 must fall on OPPOSITE sides of the nearest boundary edge.
        .filter(
            F.expr(_side("qx", "qy")) * F.expr(_side("r2x", "r2y")) < 0
        )
        .select("end_id")
        .distinct()
    )

    return (
        nearest.join(pairs, "end_id", "left_anti")
        .select(
            "end_id",
            F.expr("CAST(floor(px * 1000000.0) AS BIGINT)").alias("end_x_udeg"),
            F.expr("CAST(floor(py * 1000000.0) AS BIGINT)").alias("end_y_udeg"),
            F.lit("LUNM_ACRS_A").alias("errtype"),
        )
    )


_LA_PSD = sql_point_seg_dist_m("n.px", "n.py", "e.ax", "e.ay", "e.bx", "e.by")
_LA_PRD = sql_dist_m("n.px", "n.py", "c.rx", "c.ry")

_LA_PSD_C = sql_point_seg_dist_m("n.px", "n.py", "s.ax", "s.ay", "s.bx", "s.by")

# DuckDB candidate generation mirrors the engine's cell join (an IEJoin over
# the lattice-aligned fixture evaluates the meter refine on every x-overlap
# pair — the coverageq.py lesson): endpoints probe a 3x3 ring, edges cover
# their bbox cells via generate_series.
ORACLE_LUNM_ACRS_A = f"""
{oracle_cte('geo_areas')},
ends AS MATERIALIZED ({_LA_ENDS}),
conts AS MATERIALIZED ({_LA_CONTS}),
edges AS ({_LA_EDGES}),
edgek AS MATERIALIZED (
  SELECT area_id * 4 + eidx AS seg_key, ax, ay, bx, by,
         least(ax, bx) AS _mnx, greatest(ax, bx) AS _mxx,
         least(ay, by) AS _mny, greatest(ay, by) AS _mxy
  FROM edges
),
edgec AS MATERIALIZED (
  SELECT * FROM (
    SELECT *, unnest(generate_series(CAST(floor(_mnx / 0.01) AS BIGINT),
                                     CAST(floor(_mxx / 0.01) AS BIGINT))) AS cellx
    FROM edgek
  ) ex, LATERAL (
    SELECT unnest(generate_series(CAST(floor(ex._mny / 0.01) AS BIGINT),
                                  CAST(floor(ex._mxy / 0.01) AS BIGINT))) AS celly
  ) ey
),
endc AS MATERIALIZED (
  SELECT p.*, CAST(floor(p.px / 0.01) AS BIGINT) + d.dx AS cellx,
         CAST(floor(p.py / 0.01) AS BIGINT) + d.dy AS celly
  FROM ends p,
       (SELECT dx.dx, dy.dy FROM (SELECT unnest([-1, 0, 1]) AS dx) dx,
                                 (SELECT unnest([-1, 0, 1]) AS dy) dy) d
),
cand AS (
  SELECT end_id, px, py, qx, qy, seg_key, ax, ay, bx, by,
         CAST(floor(d * 1000.0) AS BIGINT) AS dist_mm
  FROM (
    SELECT DISTINCT n.end_id, n.px, n.py, n.qx, n.qy, s.seg_key,
           s.ax, s.ay, s.bx, s.by, ({_LA_PSD_C}) AS d
    FROM endc n JOIN edgec s ON n.cellx = s.cellx AND n.celly = s.celly
  )
  WHERE d > 0.0 AND d < {LA_TOL2_M}
),
nearest AS (
  SELECT * FROM (
    SELECT cand.*,
           row_number() OVER (PARTITION BY end_id ORDER BY dist_mm, seg_key) AS rk
    FROM cand
  ) WHERE rk = 1
),
matched AS (
  SELECT DISTINCT n.end_id
  FROM nearest n
  JOIN conts c
    ON c.ry BETWEEN n.py - 0.000025 AND n.py + 0.000025
   AND c.rx BETWEEN n.px - 0.000025 AND n.px + 0.000025
  WHERE ({_LA_PRD}) < {LA_TOL1_M}
    AND sign((n.bx - n.ax) * (n.qy - n.ay) - (n.by - n.ay) * (n.qx - n.ax))
      * sign((n.bx - n.ax) * (c.r2y - n.ay) - (n.by - n.ay) * (c.r2x - n.ax)) < 0
)
SELECT n.end_id,
       CAST(floor(n.px * 1000000.0) AS BIGINT) AS end_x_udeg,
       CAST(floor(n.py * 1000000.0) AS BIGINT) AS end_y_udeg,
       'LUNM_ACRS_A' AS errtype
FROM nearest n
WHERE n.end_id NOT IN (SELECT end_id FROM matched)
"""

QUERIES = {
    "geo_le_a_unm": q_le_a_unm,
    "geo_lunm_acrs_a": q_lunm_acrs_a,
}

ORACLES = {
    "geo_le_a_unm": ORACLE_LE_A_UNM,
    "geo_lunm_acrs_a": ORACLE_LUNM_ACRS_A,
}
