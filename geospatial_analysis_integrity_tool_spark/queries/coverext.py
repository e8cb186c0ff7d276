"""Coverage-family and edge-match stragglers.

Reference semantics (geomchecks.c:37886-39154 edge coverage machinery;
PerformEdgeMatchChecks geomchecks.c:2958; one-line meanings
errors.c:11329-11389):

* ``geo_anocoverla``   — ANOCOVERLA 138 (errors.c:11343 "areal not covered
  by line or areal"): an areal with at least one interior perimeter edge
  that neither a neighboring areal (edge multiplicity 2) nor a covering
  LINE feature accounts for; QUALANOCOVLA 151 (:11344 "... AND is inside
  a third area"): the subset inside the qualifying region.  Same
  canonical-edge parity core as COVERFAIL (queries/coverage2.py) plus a
  line-cover rescue anti-join.
* ``geo_pnocov2lea``   — PNOCOV2LEA 153 (errors.c:11330 "point not covered
  by 2 line terminal nodes or area edges"): a gated point is covered when
  at least TWO line terminal nodes coincide with it (exact micro-degree
  quantum, the TT.c:709 truncation scale) OR an area edge passes through
  it (point-segment band); report the rest.
* ``geo_lunma_acrs_a`` — LUNMA_ACRS_A 181 (errors.c:11389 "line end not
  matched to area node across area perimeter"): a line end approaching
  the 12E meridian with NO area-owned node within the match band on the
  far side (line-owned counterparts do not satisfy this check).

Fixtures: the coverage mosaic's removed triangles leave uncovered edges;
cover lines are planted on the hole edges of every SECOND hole (rescued);
dup-layer start points give >= 15 coincident terminal nodes per residue
while every 3rd probe is nudged 1 um off-node (uncovered) and every 6th
off-node probe gets a planted rescue edge; geo_edges counterparts with
even id act as area-owned nodes.

Engine shapes: canonical-edge hash groupBy + anti-joins, quantized-key
equi-joins for node coincidence, corridor point->segment cell join for
the edge rescue, k-ring band join for the across-meridian match — all
codegen, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.geodesy import sql_point_seg_dist_m
from ..operators.pip import with_point_cell
from ..operators.proximity import _with_kring_cells, point_seg_candidates
from ..sources.synthetic import GEO_VIEWS, oracle_cte, register_geo_views

GRID_N = 60
HOLE_MOD = 97
RESCUE_MOD = 2 * HOLE_MOD   # cover lines on every 2nd hole's edges
QUAL_I = 30                 # qualifying third area: west half of the mosaic
EDGE_TOL_M = 0.01
MATCH_BAND = 0.0002


# --- geo_anocoverla (ANOCOVERLA 138 / QUALANOCOVLA 151) ------------------------------

# mosaic edges with owner ids (holes removed), plus the cover-line edge
# keys planted on every 2nd hole's outline
COV_CTES = f"""
tris AS (
  SELECT o_orderkey AS tri_id,
         CAST(floor(o_orderkey / 2.0) AS BIGINT) % {GRID_N} AS i,
         CAST(floor(floor(o_orderkey / 2.0) / {GRID_N}) AS BIGINT) AS j,
         CAST(o_orderkey % 2 AS INT) AS upper
  FROM orders
  WHERE o_orderkey < {2 * GRID_N * GRID_N} AND o_orderkey % {HOLE_MOD} <> 0
),
corners AS (
  SELECT tri_id, i, upper,
         i * 100000 + j            AS sw,
         (i + 1) * 100000 + j      AS se,
         (i + 1) * 100000 + j + 1  AS ne,
         i * 100000 + j + 1        AS nw
  FROM tris
),
edges AS (
  SELECT tri_id, i, LEAST(sw, se) AS a, GREATEST(sw, se) AS b
  FROM corners WHERE upper = 0
  UNION ALL
  SELECT tri_id, i, LEAST(se, ne), GREATEST(se, ne) FROM corners WHERE upper = 0
  UNION ALL
  SELECT tri_id, i, LEAST(ne, sw), GREATEST(ne, sw) FROM corners WHERE upper = 0
  UNION ALL
  SELECT tri_id, i, LEAST(sw, ne), GREATEST(sw, ne) FROM corners WHERE upper = 1
  UNION ALL
  SELECT tri_id, i, LEAST(ne, nw), GREATEST(ne, nw) FROM corners WHERE upper = 1
  UNION ALL
  SELECT tri_id, i, LEAST(nw, sw), GREATEST(nw, sw) FROM corners WHERE upper = 1
),
holes AS (
  SELECT o_orderkey AS tri_id,
         CAST(floor(o_orderkey / 2.0) AS BIGINT) % {GRID_N} AS i,
         CAST(floor(floor(o_orderkey / 2.0) / {GRID_N}) AS BIGINT) AS j,
         CAST(o_orderkey % 2 AS INT) AS upper
  FROM orders
  WHERE o_orderkey < {2 * GRID_N * GRID_N} AND o_orderkey % {RESCUE_MOD} = 0
),
hcorners AS (
  SELECT tri_id, upper,
         i * 100000 + j            AS sw,
         (i + 1) * 100000 + j      AS se,
         (i + 1) * 100000 + j + 1  AS ne,
         i * 100000 + j + 1        AS nw
  FROM holes
),
cover AS (
  SELECT LEAST(sw, se) AS a, GREATEST(sw, se) AS b FROM hcorners WHERE upper = 0
  UNION ALL
  SELECT LEAST(se, ne), GREATEST(se, ne) FROM hcorners WHERE upper = 0
  UNION ALL
  SELECT LEAST(ne, sw), GREATEST(ne, sw) FROM hcorners WHERE upper = 0
  UNION ALL
  SELECT LEAST(sw, ne), GREATEST(sw, ne) FROM hcorners WHERE upper = 1
  UNION ALL
  SELECT LEAST(ne, nw), GREATEST(ne, nw) FROM hcorners WHERE upper = 1
  UNION ALL
  SELECT LEAST(nw, sw), GREATEST(nw, sw) FROM hcorners WHERE upper = 1
)
"""

_NOT_BOUNDARY = f"""
NOT (
  (CAST(floor(a / 100000.0) AS BIGINT) = 0 AND CAST(floor(b / 100000.0) AS BIGINT) = 0)
  OR (CAST(floor(a / 100000.0) AS BIGINT) = {GRID_N} AND CAST(floor(b / 100000.0) AS BIGINT) = {GRID_N})
  OR (a % 100000 = 0 AND b % 100000 = 0)
  OR (a % 100000 = {GRID_N} AND b % 100000 = {GRID_N})
)
"""

ANOCOV_BODY = f"""
single AS (
  SELECT a, b FROM edges
  GROUP BY a, b HAVING COUNT(*) = 1
),
uncovered AS (
  SELECT s.a, s.b FROM single s
  WHERE {_NOT_BOUNDARY}
    AND NOT EXISTS (SELECT 1 FROM cover c WHERE c.a = s.a AND c.b = s.b)
),
flagged AS (
  SELECT DISTINCT e.tri_id, e.i
  FROM edges e JOIN uncovered u ON e.a = u.a AND e.b = u.b
)
SELECT tri_id, 'ANOCOVERLA' AS errtype FROM flagged
UNION ALL
SELECT tri_id, 'QUALANOCOVLA' FROM flagged WHERE i < {QUAL_I}
"""


def q_anocoverla(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_geo_views(spark, sf_dir)
    return spark.sql(f"WITH {COV_CTES}, {ANOCOV_BODY}")


ORACLE_ANOCOVERLA = f"WITH {COV_CTES}, {ANOCOV_BODY}"


# --- geo_pnocov2lea (PNOCOV2LEA 153) --------------------------------------------------

# probe points at dup-layer start positions (every 5th residue); every 3rd
# probe nudged 1 um off-node; every 6th off-node probe gets a rescue edge
PROBES_SQL = """
SELECT DISTINCT geom_seed AS pid,
       x1 + CASE WHEN geom_seed % 3 = 0 THEN 0.00001 ELSE 0.0 END AS px,
       y1 AS py
FROM geo_lines_dup WHERE geom_seed % 5 = 0
"""

RESCUE_EDGES_SQL = """
SELECT DISTINCT geom_seed AS eid,
       x1 + 0.00001 AS ax, y1 - 0.0001 AS ay,
       x1 + 0.00001 AS bx, y1 + 0.0001 AS by
FROM geo_lines_dup WHERE geom_seed % 5 = 0 AND geom_seed % 6 = 0
"""

TERMS_SQL = """
SELECT line_id, CAST(floor(x1 * 1000000.0) AS BIGINT) AS qx,
       CAST(floor(y1 * 1000000.0) AS BIGINT) AS qy
FROM geo_lines_dup
UNION ALL
SELECT line_id, CAST(floor(x2 * 1000000.0) AS BIGINT),
       CAST(floor(y2 * 1000000.0) AS BIGINT)
FROM geo_lines_dup
"""


def q_pnocov2lea(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_geo_views(spark, sf_dir)
    probes = spark.sql(PROBES_SQL)
    terms = spark.sql(TERMS_SQL)
    pq = probes.selectExpr(
        "pid", "px", "py",
        "CAST(floor(px * 1000000.0) AS BIGINT) AS qx",
        "CAST(floor(py * 1000000.0) AS BIGINT) AS qy",
    )
    nterm = (
        pq.join(terms, ["qx", "qy"])
        .groupBy("pid")
        .agg(F.countDistinct("line_id").alias("nend"))
        .filter("nend >= 2")
        .select("pid")
    )
    edge_cover = point_seg_candidates(
        probes.selectExpr("pid AS src_id", "px", "py"),
        spark.sql(RESCUE_EDGES_SQL).selectExpr(
            "eid AS tgt_id", "ax", "ay", "bx", "by"
        ),
        EDGE_TOL_M,
        cell_deg=0.001,
        open_interval=False,
    ).select(F.col("src_id").alias("pid")).distinct()
    return (
        probes.join(nterm, "pid", "left_anti")
        .join(edge_cover, "pid", "left_anti")
        .selectExpr("pid", "'PNOCOV2LEA' AS errtype")
    )


_PSD_R = sql_point_seg_dist_m("p.px", "p.py", "r.ax", "r.ay", "r.bx", "r.by")

ORACLE_PNOCOV2LEA = f"""
{oracle_cte('geo_lines_dup')},
probes AS ({PROBES_SQL}),
terms AS ({TERMS_SQL}),
covered2 AS (
  SELECT p.pid
  FROM probes p JOIN terms t
    ON t.qx = CAST(floor(p.px * 1000000.0) AS BIGINT)
   AND t.qy = CAST(floor(p.py * 1000000.0) AS BIGINT)
  GROUP BY p.pid HAVING COUNT(DISTINCT t.line_id) >= 2
),
rescued AS (
  SELECT DISTINCT p.pid
  FROM probes p JOIN ({RESCUE_EDGES_SQL}) r
    ON p.px BETWEEN LEAST(r.ax, r.bx) - 0.0001 AND GREATEST(r.ax, r.bx) + 0.0001
   AND p.py BETWEEN LEAST(r.ay, r.by) - 0.0001 AND GREATEST(r.ay, r.by) + 0.0001
  WHERE {_PSD_R} >= 0.0 AND {_PSD_R} < {EDGE_TOL_M}
)
SELECT pid, 'PNOCOV2LEA' AS errtype
FROM probes
WHERE pid NOT IN (SELECT pid FROM covered2)
  AND pid NOT IN (SELECT pid FROM rescued)
"""


# --- geo_lunma_acrs_a (LUNMA_ACRS_A 181) ----------------------------------------------


def q_lunma_acrs_a(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_geo_views(spark, sf_dir)
    ge = spark.table("geo_edges")
    ends = ge.selectExpr("eid", "xa", "ya")
    anodes = ge.filter("xb IS NOT NULL AND eid % 2 = 0").selectExpr(
        "eid AS aid", "xb", "yb"
    )
    ek = _with_kring_cells(ends, "xa", "ya", 0.0005)
    ak = with_point_cell(anodes, "xb", "yb", 0.0005)
    matched = (
        ek.join(ak, "cell")
        .filter(
            (F.expr(f"abs(yb - ya) <= {MATCH_BAND}"))
            & (F.col("xb") > 12.0) & (F.col("xb") < 12.001)
        )
        .select("eid")
        .distinct()
    )
    return (
        ends.join(matched, "eid", "left_anti")
        .selectExpr("eid", "'LUNMA_ACRS_A' AS errtype")
    )


ORACLE_LUNMA_ACRS_A = f"""
{oracle_cte('geo_edges')}
SELECT e.eid, 'LUNMA_ACRS_A' AS errtype
FROM geo_edges e
WHERE NOT EXISTS (
  SELECT 1 FROM geo_edges a
  WHERE a.xb IS NOT NULL AND a.eid % 2 = 0
    AND a.yb BETWEEN e.ya - 0.0025 AND e.ya + 0.0025
    AND abs(a.yb - e.ya) <= {MATCH_BAND}
    AND a.xb > 12.0 AND a.xb < 12.001
)
"""


QUERIES = {
    "geo_anocoverla": q_anocoverla,
    "geo_pnocov2lea": q_pnocov2lea,
    "geo_lunma_acrs_a": q_lunma_acrs_a,
}

ORACLES = {
    "geo_anocoverla": ORACLE_ANOCOVERLA,
    "geo_pnocov2lea": ORACLE_PNOCOV2LEA,
    "geo_lunma_acrs_a": ORACLE_LUNMA_ACRS_A,
}
