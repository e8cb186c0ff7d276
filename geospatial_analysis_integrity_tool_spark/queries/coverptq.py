"""Point/end-node coverage complements and mixed-dimension features.

Reference semantics (comment text errors.c:11380-11540):

* ``geo_pnocoverlv`` — PNOCOVERLV "point not covered by any line vertex":
  unlike PNOCOVERLE (end nodes only, errors.c:11329) coverage may come from
  ANY vertex of a line, including interior ones.
* ``geo_lenocoverp`` — LENOCOVERP "line end node not covered by point":
  the transpose — an end node with no point feature within tolerance.
* ``geo_lenocovera`` — LENOCOVERA (errors.c:11500 "line end node not covered
  by area perimeter"): end nodes with no areal ring edge within tolerance —
  the per-end complement of the LSPANFAIL rollup (same cover machinery).
* ``geo_multidfeat`` — MULTIDFEAT (errors.c "single line or area with both
  2 and 3 D coordinates"): a feature mixing sentinel-z (2-D) and real-z
  vertices.  GAIT marks 2-D vertices with the exact constant 1.3070057
  (GAIT_API.h:32, IsSentinelZvalue TT.c:1589); the fixture derives that mix
  deterministically over geo_vlines (every 7th line gets sentinel z at
  vertices where (line_id*31 + vidx*17) % 11 == 0).

Spark-first shape: coverage checks are k-ring cell joins + left-anti against
the covered set (no cross product); MULTIDFEAT is a single hash groupBy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.geodesy import MY_2D_SENTINEL_Z, sql_dist_m
from ..operators.pip import with_point_cell
from ..operators.proximity import _with_kring_cells
from ..sources.synthetic import oracle_cte, register_geo_views

PV_TOL_M = 60.0     # PNOCOVERLV / LENOCOVERP point-to-vertex tolerance
_PRE = 0.003        # oracle bbox prefilter half-width (deg) >= tol
_CELL = 0.002       # engine cell width >= 60 m in degrees at |lat| <= 66


# --- geo_pnocoverlv (PNOCOVERLV) -----------------------------------------------


def q_pnocoverlv(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_geo_views(spark, sf_dir)
    sites = spark.table("geo_sites").select("site_id", "lon", "lat")
    # vertex set = the variable-length zigzag lines: interior vertices roam
    # well away from the end-node lattice, so coverage genuinely differs from
    # the end-node-only check (PNOCOVERLE)
    verts = spark.table("geo_vlines").selectExpr("x AS vx", "y AS vy")
    s = with_point_cell(sites, "lon", "lat", _CELL)
    v = _with_kring_cells(verts, "vx", "vy", _CELL)
    covered = (
        s.join(v, "cell")
        .filter(F.expr(f"{sql_dist_m('lon', 'lat', 'vx', 'vy')} < {PV_TOL_M}"))
        .select("site_id")
        .distinct()
    )
    return sites.join(covered, "site_id", "left_anti").select(
        "site_id", "lon", "lat"
    )


ORACLE_PNOCOVERLV = f"""
{oracle_cte('geo_sites', 'geo_vlines')},
verts AS MATERIALIZED (
  SELECT x AS vx, y AS vy FROM geo_vlines
),
covered AS (
  SELECT DISTINCT s.site_id
  FROM geo_sites s JOIN verts v
    ON v.vx BETWEEN s.lon - {_PRE} AND s.lon + {_PRE}
   AND v.vy BETWEEN s.lat - {_PRE} AND s.lat + {_PRE}
  WHERE {sql_dist_m('s.lon', 's.lat', 'v.vx', 'v.vy')} < {PV_TOL_M}
)
SELECT site_id, lon, lat FROM geo_sites
WHERE site_id NOT IN (SELECT site_id FROM covered)
"""


# --- geo_lenocoverp (LENOCOVERP) -----------------------------------------------


def q_lenocoverp(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_geo_views(spark, sf_dir)
    lines = spark.table("geo_lines")
    ends = lines.selectExpr(
        "line_id", "0 AS end_which", "x1 AS ex", "y1 AS ey"
    ).unionByName(
        lines.selectExpr("line_id", "1 AS end_which", "x3 AS ex", "y3 AS ey")
    )
    sites = spark.table("geo_sites").select("lon", "lat")
    e = with_point_cell(ends, "ex", "ey", _CELL)
    s = _with_kring_cells(sites, "lon", "lat", _CELL)
    covered = (
        e.join(s, "cell")
        .filter(F.expr(f"{sql_dist_m('ex', 'ey', 'lon', 'lat')} < {PV_TOL_M}"))
        .select("line_id", "end_which")
        .distinct()
    )
    return (
        ends.join(covered, ["line_id", "end_which"], "left_anti")
        .selectExpr("line_id", "CAST(end_which AS INT) AS end_which")
    )


ORACLE_LENOCOVERP = f"""
{oracle_cte('geo_sites', 'geo_lines')},
ends AS (
  SELECT line_id, 0 AS end_which, x1 AS ex, y1 AS ey FROM geo_lines
  UNION ALL
  SELECT line_id, 1, x3, y3 FROM geo_lines
),
covered AS (
  SELECT DISTINCT e.line_id, e.end_which
  FROM ends e JOIN geo_sites s
    ON s.lon BETWEEN e.ex - {_PRE} AND e.ex + {_PRE}
   AND s.lat BETWEEN e.ey - {_PRE} AND e.ey + {_PRE}
  WHERE {sql_dist_m('e.ex', 'e.ey', 's.lon', 's.lat')} < {PV_TOL_M}
)
SELECT e.line_id, CAST(e.end_which AS INT) AS end_which FROM ends e
WHERE NOT EXISTS (SELECT 1 FROM covered c
                  WHERE c.line_id = e.line_id AND c.end_which = e.end_which)
"""


# --- geo_lenocovera (LENOCOVERA) -----------------------------------------------


def q_lenocovera(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .coverageq import _end_area_cover, _line_ends, _lines_narrow

    register_geo_views(spark, sf_dir)
    ends = _line_ends(_lines_narrow(spark))
    cov = _end_area_cover(spark).select("pid").distinct()
    return ends.join(cov, "pid", "left_anti").selectExpr(
        "line_id", "CAST(end_which AS INT) AS end_which"
    )


def _lenocovera_oracle() -> str:
    from .coverageq import _ORACLE_END_AREA, _ORACLE_ENDS
    from .vgeomq import _EDGES_CTE

    return f"""
{oracle_cte('geo_lines', 'geo_vareas')},
{_EDGES_CTE.strip().replace('edges AS (', 'edges AS MATERIALIZED (')},
{_ORACLE_ENDS.strip()},
{_ORACLE_END_AREA.strip()}
SELECT e.line_id, CAST(e.end_which AS INT) AS end_which FROM ends e
WHERE e.pid NOT IN (SELECT pid FROM cover)
"""


# --- geo_multidfeat (MULTIDFEAT) -----------------------------------------------

_VZ = (
    f"CASE WHEN line_id % 7 = 0 AND (line_id * 31 + vidx * 17) % 11 = 0"
    f" THEN {MY_2D_SENTINEL_Z} ELSE z END"
)


def q_multidfeat(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_geo_views(spark, sf_dir)
    v = spark.table("geo_vlines").selectExpr("line_id", "vidx", f"{_VZ} AS z")
    agg = v.groupBy("line_id").agg(
        F.expr(
            f"COUNT(CASE WHEN z = {MY_2D_SENTINEL_Z} THEN 1 END)"
        ).alias("n_2d"),
        F.expr(
            f"COUNT(CASE WHEN z <> {MY_2D_SENTINEL_Z} THEN 1 END)"
        ).alias("n_3d"),
    )
    return agg.filter("n_2d >= 1 AND n_3d >= 1").selectExpr(
        "line_id", "CAST(n_2d AS BIGINT) AS n_2d", "CAST(n_3d AS BIGINT) AS n_3d"
    )


ORACLE_MULTIDFEAT = f"""
{oracle_cte('geo_vlines')},
v AS (SELECT line_id, vidx, {_VZ} AS z FROM geo_vlines),
agg AS (
  SELECT line_id,
         COUNT(CASE WHEN z = {MY_2D_SENTINEL_Z} THEN 1 END) AS n_2d,
         COUNT(CASE WHEN z <> {MY_2D_SENTINEL_Z} THEN 1 END) AS n_3d
  FROM v GROUP BY 1
)
SELECT line_id, CAST(n_2d AS BIGINT) AS n_2d, CAST(n_3d AS BIGINT) AS n_3d
FROM agg WHERE n_2d >= 1 AND n_3d >= 1
"""


QUERIES = {
    "geo_pnocoverlv": q_pnocoverlv,
    "geo_lenocoverp": q_lenocoverp,
    "geo_lenocovera": q_lenocovera,
    "geo_multidfeat": q_multidfeat,
}

ORACLES = {
    "geo_pnocoverlv": ORACLE_PNOCOVERLV,
    "geo_lenocoverp": ORACLE_LENOCOVERP,
    "geo_lenocovera": _lenocovera_oracle(),
    "geo_multidfeat": ORACLE_MULTIDFEAT,
}
