"""Kink / containment / network / boundary straggler checks (round-2
"missing #6/#7").

Reference citations (comments errors.c; drivers TT.c:43064ff kink group,
moregeomchecks.c:2854 transitive nets, geomchecks.c:2958 edge matching):

* INTERNALKINK 105 — kink internal to a single line feature: a > 150-degree
  turn at a STRICTLY interior vertex (not adjacent to an end node)
  (errors.c:11441);
* CONTEXT_KINK 106 — one high angle next to one moderate angle
  (errors.c:11544);
* ISOTURN 110     — high turn angle with NO point feature present nearby to
  justify it (errors.c:11437);
* P_O_LOOP 112    — self-intersecting line forming P/O shapes: the crossing
  involves an END segment (errors.c:11309);
* PTINPROPER 71   — point inside an areal and not within tolerance of any
  ring edge (outer or hole) (errors.c:11278);
* POLYINAREA 235  — polygon wholly inside another areal (errors.c:11276);
* NETISOA 119     — areal with no shared-edge neighbor in the landcover
  mosaic (the degree-0 case of transitive connection, errors.c:11348);
* FEATBRIDGE 61   — one line is the ONLY connection between two other
  same-type features (errors.c:11499);
* LHANG_LON/LAT 171/172 — line end sitting exactly on a whole-degree
  boundary with no counterpart feature end there (errors.c:11391-11392);
* AHANG_LON/LAT 173/174 — same for areal vertices (errors.c:11366-11367);
* VVTERR1WAY 215  — feature carrying a designated attribute and value
  (errors.c:11408);
* TPORTRAYF 220   — feature failing ALL portrayal rule GROUPS (a group is a
  conjunction of attribute conditions; errors.c:11364).

All decisions are exact integer / shared-SQL-text comparisons.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.geodesy import sql_coslat_poly, sql_dist_m, sql_point_seg_dist_m
from ..operators.intersections import (
    segments_of_vertices,
    self_intersections_of_segments,
)
from ..operators.pip import with_point_cell
from ..operators.proximity import (
    _with_kring_cells,
    point_to_segment_proximity,
)
from ..sources.synthetic import GEO_VIEWS, oracle_cte, register_geo_views
from .vgeomq import (
    CELL,
    RAY_CROSS,
    _EDGES_CTE,
    _area_edges,
    _cells,
    _inside_pairs,
)

ISOTURN_TOL_M = 100.0
PTINPROPER_EDGE_M = 50.0
_PRE = 0.003

# --- shared kink machinery over geo_vlines --------------------------------------

#: meter-frame turn classification over (ux, uy, wx, wy, my): strong is a
#: turn > 150 deg (dot < 0 and dot^2 > cos^2(30) |u|^2|w|^2), moderate is
#: (90, 150] (dot < 0, not strong)
def _turn_terms() -> tuple[str, str, str]:
    mlon = f"(111319.5 * {sql_coslat_poly('my')})"
    uxm = f"(ux * {mlon})"
    uym = "(uy * 111319.5)"
    wxm = f"(wx * {mlon})"
    wym = "(wy * 111319.5)"
    dot = f"({uxm} * {wxm} + {uym} * {wym})"
    mag = f"(({uxm} * {uxm} + {uym} * {uym}) * ({wxm} * {wxm} + {wym} * {wym}))"
    return dot, mag, mlon


_DOT, _MAG, _ = _turn_terms()
KINK_STRONG = f"({_DOT} < 0.0 AND {_DOT} * {_DOT} > 0.75 * {_MAG})"
KINK_MODERATE = f"({_DOT} < 0.0 AND NOT ({_DOT} * {_DOT} > 0.75 * {_MAG}))"


def _vline_turns(spark: SparkSession) -> DataFrame:
    """Per interior vertex of geo_vlines: (line_id, vidx, n, ux, uy, wx, wy,
    my, px, py) via lag/lead windows — one shuffle."""
    v = spark.table("geo_vlines")
    w = Window.partitionBy("line_id").orderBy("vidx")
    nv = Window.partitionBy("line_id")
    return (
        v.select(
            "line_id", "vidx", "x", "y",
            F.lag("x").over(w).alias("_xp"), F.lag("y").over(w).alias("_yp"),
            F.lead("x").over(w).alias("_xn"), F.lead("y").over(w).alias("_yn"),
            F.count("*").over(nv).alias("n"),
        )
        .filter(F.col("_xp").isNotNull() & F.col("_xn").isNotNull())
        .selectExpr(
            "line_id", "vidx", "n",
            "x - _xp AS ux", "y - _yp AS uy",
            "_xn - x AS wx", "_yn - y AS wy",
            "y AS my", "x AS px", "y AS py",
        )
    )


_ORACLE_TURNS = """
turns AS MATERIALIZED (
  SELECT b.line_id, b.vidx, nv.n,
         b.x - a.x AS ux, b.y - a.y AS uy,
         c.x - b.x AS wx, c.y - b.y AS wy,
         b.y AS my, b.x AS px, b.y AS py
  FROM geo_vlines a
  JOIN geo_vlines b ON b.line_id = a.line_id AND b.vidx = a.vidx + 1
  JOIN geo_vlines c ON c.line_id = a.line_id AND c.vidx = a.vidx + 2
  JOIN (SELECT line_id, COUNT(*) AS n FROM geo_vlines GROUP BY 1) nv
    ON nv.line_id = b.line_id
)
"""


# --- geo_internalkink (INTERNALKINK 105) ----------------------------------------


def q_internalkink(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_geo_views(spark, sf_dir)
    return (
        _vline_turns(spark)
        .filter(F.expr(KINK_STRONG))
        .filter(F.expr("vidx >= 2 AND vidx <= n - 3"))
        .select("line_id", "vidx")
    )


ORACLE_INTERNALKINK = f"""
{oracle_cte('geo_vlines')},
{_ORACLE_TURNS.strip()}
SELECT line_id, vidx FROM turns
WHERE {KINK_STRONG} AND vidx >= 2 AND vidx <= n - 3
"""


# --- geo_context_kink (CONTEXT_KINK 106) ----------------------------------------


def q_context_kink(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_geo_views(spark, sf_dir)
    t = _vline_turns(spark).withColumn(
        "cls",
        F.expr(
            f"CASE WHEN {KINK_STRONG} THEN 2 WHEN {KINK_MODERATE} THEN 1"
            " ELSE 0 END"
        ),
    )
    w = Window.partitionBy("line_id").orderBy("vidx")
    return (
        t.withColumn("_cp", F.lag("cls").over(w))
        .withColumn("_cn", F.lead("cls").over(w))
        .filter(
            (F.col("cls") == 2)
            & ((F.col("_cp") == 1) | (F.col("_cn") == 1))
        )
        .select("line_id", "vidx")
    )


ORACLE_CONTEXT_KINK = f"""
{oracle_cte('geo_vlines')},
{_ORACLE_TURNS.strip()},
classed AS (
  SELECT line_id, vidx,
         CASE WHEN {KINK_STRONG} THEN 2 WHEN {KINK_MODERATE} THEN 1
              ELSE 0 END AS cls
  FROM turns
)
SELECT a.line_id, a.vidx
FROM classed a
WHERE a.cls = 2 AND EXISTS (
  SELECT 1 FROM classed b
  WHERE b.line_id = a.line_id AND abs(b.vidx - a.vidx) = 1 AND b.cls = 1
)
"""


# --- geo_isoturn (ISOTURN 110) --------------------------------------------------


def q_isoturn(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_geo_views(spark, sf_dir)
    strong = (
        _vline_turns(spark)
        .filter(F.expr(KINK_STRONG))
        .select("line_id", "vidx", "px", "py")
    )
    sites = spark.table("geo_sites").select("site_id", "lon", "lat")
    cell = 0.003
    s = with_point_cell(strong, "px", "py", cell)
    t = _with_kring_cells(sites, "lon", "lat", cell)
    justified = (
        s.join(t, "cell")
        .filter(
            F.expr(f"{sql_dist_m('px', 'py', 'lon', 'lat')} < {ISOTURN_TOL_M}")
        )
        .select("line_id", "vidx")
        .distinct()
    )
    return strong.join(justified, ["line_id", "vidx"], "left_anti").select(
        "line_id", "vidx"
    )


ORACLE_ISOTURN = f"""
{oracle_cte('geo_vlines', 'geo_sites')},
{_ORACLE_TURNS.strip()},
strong AS (SELECT line_id, vidx, px, py FROM turns WHERE {KINK_STRONG})
SELECT s.line_id, s.vidx FROM strong s
WHERE NOT EXISTS (
  SELECT 1 FROM geo_sites g
  WHERE g.lon BETWEEN s.px - {_PRE} AND s.px + {_PRE}
    AND g.lat BETWEEN s.py - {_PRE} AND s.py + {_PRE}
    AND {sql_dist_m('s.px', 's.py', 'g.lon', 'g.lat')} < {ISOTURN_TOL_M}
)
"""


# --- geo_p_o_loop (P_O_LOOP 112) ------------------------------------------------


def q_p_o_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_geo_views(spark, sf_dir)
    v = spark.table("geo_vlines")
    segs = segments_of_vertices(v)
    loops = self_intersections_of_segments(segs)
    nseg = v.groupBy("line_id").agg((F.count("*") - 1).alias("_ns"))
    return (
        loops.join(nseg, "line_id")
        .filter(F.expr("seg_a = 1 OR seg_b = _ns"))
        .select("line_id", "seg_a", "seg_b")
    )


def _oracle_p_o_loop() -> str:
    from .vgeomq import ORACLE_LOOPS

    return f"""
WITH loops AS ({ORACLE_LOOPS}),
{oracle_cte('geo_vlines').removeprefix('WITH ')},
nseg AS (SELECT line_id, COUNT(*) - 1 AS ns FROM geo_vlines GROUP BY 1)
SELECT l.line_id, l.seg_a, l.seg_b
FROM loops l JOIN nseg n ON n.line_id = l.line_id
WHERE l.seg_a = 1 OR l.seg_b = n.ns
"""


# --- geo_ptinproper (PTINPROPER 71) ---------------------------------------------


def q_ptinproper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point inside an areal (even-odd over ALL rings — holes count) and not
    within tolerance of any of that areal's ring edges."""
    register_geo_views(spark, sf_dir)
    sites = spark.table("geo_sites").selectExpr(
        "site_id", "lon AS px", "lat AS py"
    )
    edges = _area_edges(spark)
    inside = _inside_pairs(spark, edges, sites, ["site_id"])
    near_edge = point_to_segment_proximity(
        sites.selectExpr("site_id AS src_id", "px", "py"),
        edges.selectExpr(
            "area_id AS tgt_id", "ex1 AS ax", "ey1 AS ay", "ex2 AS bx", "ey2 AS by"
        ),
        tol_m=PTINPROPER_EDGE_M,
        open_interval=False,
    ).selectExpr("src_id AS site_id", "tgt_id AS area_id")
    return inside.join(near_edge, ["site_id", "area_id"], "left_anti").select(
        "site_id", "area_id"
    )


ORACLE_PTINPROPER = f"""
{oracle_cte('geo_sites', 'geo_vareas')},
{_EDGES_CTE.strip().replace('edges AS (', 'edges AS MATERIALIZED (')},
abbox AS (
  SELECT area_id, MIN(x) AS mnx, MAX(x) AS mxx, MIN(y) AS mny, MAX(y) AS mxy
  FROM geo_vareas GROUP BY area_id
),
{_cells('abbox', 'abc').strip()},
cand AS (
  SELECT s.site_id, s.lon AS px, s.lat AS py, a.area_id
  FROM geo_sites s JOIN abc a
    ON CAST(floor(s.lon / {CELL}) AS BIGINT) = a.cellx
   AND CAST(floor(s.lat / {CELL}) AS BIGINT) = a.celly
   AND s.lon >= a.mnx AND s.lon <= a.mxx AND s.lat >= a.mny AND s.lat <= a.mxy
),
parity AS (
  SELECT c.site_id, c.area_id,
         SUM({RAY_CROSS.replace('px', 'c.px').replace('py', 'c.py')
                        .replace('ex1', 'e.ex1').replace('ey1', 'e.ey1')
                        .replace('ex2', 'e.ex2').replace('ey2', 'e.ey2')}) AS nc
  FROM cand c JOIN edges e ON e.area_id = c.area_id
  GROUP BY 1, 2
),
inside AS MATERIALIZED (SELECT site_id, area_id FROM parity WHERE nc % 2 = 1),
near_edge AS (
  SELECT DISTINCT i.site_id, i.area_id
  FROM inside i
  JOIN geo_sites s ON s.site_id = i.site_id
  JOIN edges e ON e.area_id = i.area_id
  WHERE {sql_point_seg_dist_m('s.lon', 's.lat', 'e.ex1', 'e.ey1', 'e.ex2', 'e.ey2')}
        < {PTINPROPER_EDGE_M}
)
SELECT i.site_id, i.area_id FROM inside i
WHERE NOT EXISTS (
  SELECT 1 FROM near_edge n
  WHERE n.site_id = i.site_id AND n.area_id = i.area_id
)
"""


# --- geo_polyinarea (POLYINAREA 235) --------------------------------------------

#: augmented areal set: hole-free areas (5 of 6) get a quarter-scale copy of
#: their outer ring pulled toward the bbox center (id + 40M) — planted
#: wholly-contained positives (even-odd safe: no hole to fall into), plus
#: whatever containment the lattice produces organically.  The center uses
#: (MIN+MAX)/2, not AVG, so it is order-free in both engines.
_AREAS_PIA_SQL = """
SELECT area_id, ring, vidx, x, y FROM geo_vareas
UNION ALL
SELECT v.area_id + 40000000, 0, v.vidx,
       (3.0 * c.cx + v.x) * 0.25, (3.0 * c.cy + v.y) * 0.25
FROM geo_vareas v
JOIN (SELECT area_id, (MIN(x) + MAX(x)) * 0.5 AS cx,
             (MIN(y) + MAX(y)) * 0.5 AS cy
      FROM geo_vareas WHERE ring = 0 GROUP BY area_id) c
  ON c.area_id = v.area_id
WHERE v.ring = 0 AND v.area_id % 6 <> 0
"""


def q_polyinarea(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_geo_views(spark, sf_dir)
    spark.sql(_AREAS_PIA_SQL).createOrReplaceTempView("geo_vareas_pia")
    edges = _area_edges(spark, view="geo_vareas_pia")
    probes = spark.table("geo_vareas_pia").selectExpr(
        "area_id AS inner_id", "ring AS iring", "vidx", "x AS px", "y AS py"
    )
    inside_v = _inside_pairs(
        spark, edges, probes, ["inner_id", "iring", "vidx"],
        view="geo_vareas_pia",
    ).filter(F.col("inner_id") != F.col("area_id"))
    nverts = spark.table("geo_vareas_pia").groupBy("area_id").agg(
        F.count("*").alias("_nv")
    ).selectExpr("area_id AS inner_id", "_nv")
    return (
        inside_v.groupBy("inner_id", "area_id")
        .agg(F.count("*").alias("_nin"))
        .join(nverts, "inner_id")
        .filter(F.col("_nin") == F.col("_nv"))
        .selectExpr("inner_id", "area_id AS outer_id")
    )


ORACLE_POLYINAREA = f"""
{oracle_cte('geo_vareas')},
geo_vareas_pia AS MATERIALIZED ({_AREAS_PIA_SQL}),
{_EDGES_CTE.strip().replace('geo_vareas', 'geo_vareas_pia')},
abbox AS (
  SELECT area_id, MIN(x) AS mnx, MAX(x) AS mxx, MIN(y) AS mny, MAX(y) AS mxy
  FROM geo_vareas_pia GROUP BY area_id
),
{_cells('abbox', 'abc').strip()},
cand AS (
  SELECT v.area_id AS inner_id, v.ring, v.vidx, v.x AS px, v.y AS py, a.area_id
  FROM geo_vareas_pia v JOIN abc a
    ON CAST(floor(v.x / {CELL}) AS BIGINT) = a.cellx
   AND CAST(floor(v.y / {CELL}) AS BIGINT) = a.celly
   AND v.x >= a.mnx AND v.x <= a.mxx AND v.y >= a.mny AND v.y <= a.mxy
  WHERE v.area_id <> a.area_id
),
parity AS (
  SELECT c.inner_id, c.ring, c.vidx, c.area_id,
         SUM({RAY_CROSS.replace('px', 'c.px').replace('py', 'c.py')
                        .replace('ex1', 'e.ex1').replace('ey1', 'e.ey1')
                        .replace('ex2', 'e.ex2').replace('ey2', 'e.ey2')}) AS nc
  FROM cand c JOIN edges e ON e.area_id = c.area_id
  GROUP BY 1, 2, 3, 4
),
inside_v AS (
  SELECT inner_id, ring, vidx, area_id FROM parity WHERE nc % 2 = 1
),
nv2 AS (SELECT area_id AS inner_id, COUNT(*) AS nvv FROM geo_vareas_pia GROUP BY 1)
SELECT i.inner_id, i.area_id AS outer_id
FROM inside_v i JOIN nv2 ON nv2.inner_id = i.inner_id
GROUP BY i.inner_id, i.area_id, nv2.nvv
HAVING COUNT(*) = nv2.nvv
"""


# --- geo_netisoa (NETISOA 119) --------------------------------------------------

NETISO_GRID = 40      # 40x40 squares -> 3200 triangles
NETISO_MOD = 3        # keep 1-in-3 triangles so genuinely isolated ones exist

_TRIS_ISO_SQL = f"""
SELECT o_orderkey AS tri_id,
       CAST(floor(o_orderkey / 2.0) AS BIGINT) % {NETISO_GRID} AS i,
       CAST(floor(floor(o_orderkey / 2.0) / {NETISO_GRID}) AS BIGINT) AS j,
       CAST(o_orderkey % 2 AS INT) AS upper
FROM orders
WHERE o_orderkey < {2 * NETISO_GRID * NETISO_GRID}
  AND o_orderkey % {NETISO_MOD} = 0
"""

_EDGES_ISO_SQL = f"""
tris AS ({_TRIS_ISO_SQL}),
corners AS (
  SELECT tri_id, i, j, upper,
         i * 100000 + j            AS sw,
         (i + 1) * 100000 + j      AS se,
         (i + 1) * 100000 + j + 1  AS ne,
         i * 100000 + j + 1        AS nw
  FROM tris
),
tedges AS (
  SELECT tri_id, LEAST(sw, se) AS a, GREATEST(sw, se) AS b FROM corners WHERE upper = 0
  UNION ALL
  SELECT tri_id, LEAST(se, ne), GREATEST(se, ne) FROM corners WHERE upper = 0
  UNION ALL
  SELECT tri_id, LEAST(ne, sw), GREATEST(ne, sw) FROM corners WHERE upper = 0
  UNION ALL
  SELECT tri_id, LEAST(sw, ne), GREATEST(sw, ne) FROM corners WHERE upper = 1
  UNION ALL
  SELECT tri_id, LEAST(ne, nw), GREATEST(ne, nw) FROM corners WHERE upper = 1
  UNION ALL
  SELECT tri_id, LEAST(nw, sw), GREATEST(nw, sw) FROM corners WHERE upper = 1
)
"""


def q_netisoa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangles of the (hole-punched) mosaic with NO shared-edge neighbor —
    the degree-0 case of the transitive-connection check."""
    register_geo_views(spark, sf_dir)
    edges = spark.sql(f"WITH {_EDGES_ISO_SQL.strip()} SELECT * FROM tedges")
    neigh = (
        edges.selectExpr("tri_id AS ta", "a", "b")
        .join(edges.selectExpr("tri_id AS tb", "a", "b"), ["a", "b"])
        .filter(F.col("ta") != F.col("tb"))
        .select(F.col("ta").alias("tri_id"))
        .distinct()
    )
    tris = spark.sql(_TRIS_ISO_SQL).select("tri_id")
    return tris.join(neigh, "tri_id", "left_anti")


ORACLE_NETISOA = f"""
WITH {_EDGES_ISO_SQL.strip()}
SELECT t.tri_id FROM tris t
WHERE NOT EXISTS (
  SELECT 1 FROM tedges e1 JOIN tedges e2
    ON e2.a = e1.a AND e2.b = e1.b AND e2.tri_id <> e1.tri_id
  WHERE e1.tri_id = t.tri_id
)
"""


# --- geo_featbridge (FEATBRIDGE 61) ---------------------------------------------

_NODE_KEY = (
    "CAST(floor({x} * 1000000.0) AS BIGINT) * 1000000000"
    " + CAST(floor({y} * 1000000.0) AS BIGINT)"
)

#: planted bridge features: for every 531st seed, a line joining the start
#: node of line k to the start node of line k+15 (same-fcode clusters, 15 is
#: a multiple of the 5-way fcode cycle) — guaranteed sole connectors between
#: two otherwise-distant node clusters
_LINES_AUG_SQL = """
SELECT line_id, fcode, x1, y1, x3, y3 FROM geo_lines
UNION ALL
SELECT 70000000 + a.line_id, a.fcode, a.x1, a.y1, b.x1, b.y1
FROM geo_lines a JOIN geo_lines b ON b.line_id = a.line_id + 15
WHERE a.line_id % 531 = 0
"""

_NODES_SQL = f"""
WITH lines_aug AS ({_LINES_AUG_SQL})
SELECT line_id, fcode, {_NODE_KEY.format(x='x1', y='y1')} AS node_key FROM lines_aug
UNION ALL
SELECT line_id, fcode, {_NODE_KEY.format(x='x3', y='y3')} FROM lines_aug
"""


def q_featbridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line L is the only connection between same-fcode features A and B:
    L meets A at one node and B at a DIFFERENT node, A and B are not
    directly adjacent, and no other line connects A and B."""
    register_geo_views(spark, sf_dir)
    nodes = spark.sql(_NODES_SQL)
    la = (
        nodes.selectExpr("line_id AS l", "node_key AS k1")
        .join(
            nodes.selectExpr("line_id AS fa", "fcode AS fc_a", "node_key AS k1"),
            "k1",
        )
        .filter(F.col("l") != F.col("fa"))
    )
    lb = (
        nodes.selectExpr("line_id AS l", "node_key AS k2")
        .join(
            nodes.selectExpr("line_id AS fb", "fcode AS fc_b", "node_key AS k2"),
            "k2",
        )
        .filter(F.col("l") != F.col("fb"))
    )
    cand = (
        la.join(lb, "l")
        .filter(F.col("k1") != F.col("k2"))
        .filter(F.col("fa") < F.col("fb"))
        .filter(F.col("fc_a") == F.col("fc_b"))
        .select("l", "fa", "fb")
        .distinct()
    )
    adj = (
        nodes.selectExpr("line_id AS x", "node_key")
        .join(nodes.selectExpr("line_id AS y", "node_key"), "node_key")
        .filter(F.col("x") != F.col("y"))
        .select("x", "y")
        .distinct()
    )
    direct = adj.selectExpr("x AS fa", "y AS fb").withColumn("_d", F.lit(1))
    other = (
        adj.selectExpr("y AS l2", "x AS fa")
        .join(adj.selectExpr("y AS l2", "x AS fb"), "l2")
        .select("l2", "fa", "fb")
        .distinct()
    )
    return (
        cand.join(direct, ["fa", "fb"], "left_anti")
        .join(
            other.filter(F.col("l2").isNotNull()),
            (cand["fa"] == other["fa"])
            & (cand["fb"] == other["fb"])
            & (cand["l"] != other["l2"]),
            "left_anti",
        )
        .selectExpr("l AS line_id", "fa AS feat_a", "fb AS feat_b")
    )


ORACLE_FEATBRIDGE = f"""
{oracle_cte('geo_lines')},
lines_aug AS MATERIALIZED ({_LINES_AUG_SQL}),
nodes AS MATERIALIZED (
  SELECT line_id, fcode, {_NODE_KEY.format(x='x1', y='y1')} AS node_key FROM lines_aug
  UNION ALL
  SELECT line_id, fcode, {_NODE_KEY.format(x='x3', y='y3')} FROM lines_aug
),
adj AS MATERIALIZED (
  SELECT DISTINCT a.line_id AS x, b.line_id AS y
  FROM nodes a JOIN nodes b ON b.node_key = a.node_key AND a.line_id <> b.line_id
),
cand AS (
  SELECT DISTINCT la.line_id AS l, a.line_id AS fa, b.line_id AS fb
  FROM nodes la
  JOIN nodes a ON a.node_key = la.node_key AND a.line_id <> la.line_id
  JOIN nodes lb ON lb.line_id = la.line_id AND lb.node_key <> la.node_key
  JOIN nodes b ON b.node_key = lb.node_key AND b.line_id <> lb.line_id
  WHERE a.line_id < b.line_id AND a.fcode = b.fcode
)
SELECT c.l AS line_id, c.fa AS feat_a, c.fb AS feat_b
FROM cand c
WHERE NOT EXISTS (SELECT 1 FROM adj d WHERE d.x = c.fa AND d.y = c.fb)
  AND NOT EXISTS (
    SELECT 1 FROM adj p JOIN adj q ON q.x = p.x
    WHERE p.y = c.fa AND q.y = c.fb AND p.x <> c.l
  )
"""


# --- geo_lhang / geo_ahang (LHANG 171/172, AHANG 173/174) -----------------------

_QON = "({q} % 1000000 = 0)"


def q_lhang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line end exactly on a whole-degree boundary with no other feature end
    at the same quantized point (edge-match hang, geomchecks.c:2958)."""
    register_geo_views(spark, sf_dir)
    lines = spark.table("geo_lines")
    ends = lines.selectExpr(
        "line_id", "0 AS end_which",
        "CAST(floor(x1 * 1000000.0) AS BIGINT) AS qx",
        "CAST(floor(y1 * 1000000.0) AS BIGINT) AS qy",
    ).unionByName(
        lines.selectExpr(
            "line_id", "1 AS end_which",
            "CAST(floor(x3 * 1000000.0) AS BIGINT) AS qx",
            "CAST(floor(y3 * 1000000.0) AS BIGINT) AS qy",
        )
    )
    on_b = ends.filter(
        F.expr(f"{_QON.format(q='qx')} OR {_QON.format(q='qy')}")
    )
    other = ends.selectExpr("line_id AS o_id", "qx", "qy").distinct()
    matched = (
        on_b.join(other, ["qx", "qy"])
        .filter(F.col("o_id") != F.col("line_id"))
        .select("line_id", "end_which")
        .distinct()
    )
    return (
        on_b.join(matched, ["line_id", "end_which"], "left_anti")
        .selectExpr(
            "line_id",
            "CAST(end_which AS INT) AS end_which",
            f"CASE WHEN {_QON.format(q='qx')} THEN 'LHANG_LON'"
            " ELSE 'LHANG_LAT' END AS errtype",
        )
    )


ORACLE_LHANG = f"""
{oracle_cte('geo_lines')},
ends AS MATERIALIZED (
  SELECT line_id, 0 AS end_which,
         CAST(floor(x1 * 1000000.0) AS BIGINT) AS qx,
         CAST(floor(y1 * 1000000.0) AS BIGINT) AS qy
  FROM geo_lines
  UNION ALL
  SELECT line_id, 1,
         CAST(floor(x3 * 1000000.0) AS BIGINT),
         CAST(floor(y3 * 1000000.0) AS BIGINT)
  FROM geo_lines
)
SELECT e.line_id, CAST(e.end_which AS INT) AS end_which,
       CASE WHEN {_QON.format(q='e.qx')} THEN 'LHANG_LON'
            ELSE 'LHANG_LAT' END AS errtype
FROM ends e
WHERE ({_QON.format(q='e.qx')} OR {_QON.format(q='e.qy')})
  AND NOT EXISTS (
    SELECT 1 FROM ends o
    WHERE o.qx = e.qx AND o.qy = e.qy AND o.line_id <> e.line_id
  )
"""


def q_ahang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Areal vertex exactly on a whole-degree boundary with no other areal
    sharing that quantized vertex."""
    register_geo_views(spark, sf_dir)
    v = spark.table("geo_vareas").selectExpr(
        "area_id", "ring", "vidx",
        "CAST(floor(x * 1000000.0) AS BIGINT) AS qx",
        "CAST(floor(y * 1000000.0) AS BIGINT) AS qy",
    )
    on_b = v.filter(F.expr(f"{_QON.format(q='qx')} OR {_QON.format(q='qy')}"))
    other = v.selectExpr("area_id AS o_id", "qx", "qy").distinct()
    matched = (
        on_b.join(other, ["qx", "qy"])
        .filter(F.col("o_id") != F.col("area_id"))
        .select("area_id", "ring", "vidx")
        .distinct()
    )
    return (
        on_b.join(matched, ["area_id", "ring", "vidx"], "left_anti")
        .selectExpr(
            "area_id", "ring", "vidx",
            f"CASE WHEN {_QON.format(q='qx')} THEN 'AHANG_LON'"
            " ELSE 'AHANG_LAT' END AS errtype",
        )
    )


ORACLE_AHANG = f"""
{oracle_cte('geo_vareas')},
verts AS MATERIALIZED (
  SELECT area_id, ring, vidx,
         CAST(floor(x * 1000000.0) AS BIGINT) AS qx,
         CAST(floor(y * 1000000.0) AS BIGINT) AS qy
  FROM geo_vareas
)
SELECT v.area_id, v.ring, v.vidx,
       CASE WHEN {_QON.format(q='v.qx')} THEN 'AHANG_LON'
            ELSE 'AHANG_LAT' END AS errtype
FROM verts v
WHERE ({_QON.format(q='v.qx')} OR {_QON.format(q='v.qy')})
  AND NOT EXISTS (
    SELECT 1 FROM verts o
    WHERE o.qx = v.qx AND o.qy = v.qy AND o.area_id <> v.area_id
  )
"""


# --- vvt_1way (VVTERR1WAY 215) --------------------------------------------------


def q_vvt_1way(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature carrying the designated attribute & value (SIZ = 13)."""
    from .checks2 import _ATTR_BASE

    register_geo_views(spark, sf_dir)
    base = spark.sql(_ATTR_BASE)
    return base.filter(F.col("siz") == 13).select(
        "feature_id",
        F.lit("VVTERR1WAY").alias("errtype"),
        F.lit("SIZ=13").alias("rule"),
    )


def _oracle_vvt_1way() -> str:
    from .checks2 import _ATTR_BASE

    return f"""
WITH base AS ({_ATTR_BASE})
SELECT feature_id, 'VVTERR1WAY' AS errtype, 'SIZ=13' AS rule
FROM base WHERE siz = 13
"""


# --- attr_tportrayf (TPORTRAYF 220) ---------------------------------------------

#: portrayal rule GROUPS: a feature portrays iff SOME group's conditions ALL
#: hold; TPORTRAYF reports features portraying under NO group
TPORTRAY_GROUPS = [
    (1, "AL015", "ACC", "1"),
    (2, "AL015", "ACC", "2"),
    (2, "AL015", "SIZ", "13"),
    (3, "GB005", "ACC", "2"),
    (4, "GB005", "ACC", "4"),
    (4, "GB005", "SIZ", "7"),
    (5, "BH140", "ACC", "1"),
    (6, "BH140", "ACC", "5"),
    (7, "AP030", "ACC", "3"),
    (8, "AP030", "ACC", "7"),
    (8, "AP030", "SIZ", "21"),
]


def q_attr_tportrayf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .attrchecks import _ATTRS2_SQL

    from ..sources.synthetic import register_testdata_views

    register_testdata_views(spark, sf_dir)
    attrs_long = spark.sql(_ATTRS2_SQL)
    feats = attrs_long.select("feature_id", "fcode").distinct()
    present = attrs_long.filter(F.col("attr").isNotNull())
    rules = spark.createDataFrame(
        TPORTRAY_GROUPS, "rule_id long, fcode string, attr string, value string"
    )
    gsize = rules.groupBy("rule_id", "fcode").agg(F.count("*").alias("_gs"))
    matched = (
        present.join(F.broadcast(rules), ["fcode", "attr", "value"])
        .groupBy("feature_id", "rule_id")
        .agg(F.count("*").alias("_nm"))
    )
    satisfied = (
        matched.join(F.broadcast(gsize), "rule_id")
        .filter(F.col("_nm") == F.col("_gs"))
        .select("feature_id")
        .distinct()
    )
    return (
        feats.join(satisfied, "feature_id", "left_anti")
        .select(
            "feature_id",
            F.lit("TPORTRAYF").alias("errtype"),
            "fcode",
        )
    )


def _oracle_tportrayf() -> str:
    from .attrchecks import _ATTRS2_SQL

    vals = ", ".join(
        f"({r}, '{f}', '{a}', '{v}')" for r, f, a, v in TPORTRAY_GROUPS
    )
    return f"""
WITH attrs_long AS ({_ATTRS2_SQL}),
rules AS (SELECT * FROM (VALUES {vals}) t(rule_id, fcode, attr, value)),
gsize AS (SELECT rule_id, fcode, COUNT(*) AS gs FROM rules GROUP BY 1, 2),
present AS (SELECT * FROM attrs_long WHERE attr IS NOT NULL),
matched AS (
  SELECT p.feature_id, r.rule_id, COUNT(*) AS nm
  FROM present p JOIN rules r
    ON r.fcode = p.fcode AND r.attr = p.attr AND r.value = p.value
  GROUP BY 1, 2
),
satisfied AS (
  SELECT DISTINCT m.feature_id
  FROM matched m JOIN gsize g ON g.rule_id = m.rule_id
  WHERE m.nm = g.gs
),
feats AS (SELECT DISTINCT feature_id, fcode FROM attrs_long)
SELECT f.feature_id, 'TPORTRAYF' AS errtype, f.fcode
FROM feats f
WHERE f.feature_id NOT IN (SELECT feature_id FROM satisfied)
"""


QUERIES = {
    "geo_internalkink": q_internalkink,
    "geo_context_kink": q_context_kink,
    "geo_isoturn": q_isoturn,
    "geo_p_o_loop": q_p_o_loop,
    "geo_ptinproper": q_ptinproper,
    "geo_polyinarea": q_polyinarea,
    "geo_netisoa": q_netisoa,
    "geo_featbridge": q_featbridge,
    "geo_lhang": q_lhang,
    "geo_ahang": q_ahang,
    "vvt_1way": q_vvt_1way,
    "attr_tportrayf": q_attr_tportrayf,
}

ORACLES = {
    "geo_internalkink": ORACLE_INTERNALKINK,
    "geo_context_kink": ORACLE_CONTEXT_KINK,
    "geo_isoturn": ORACLE_ISOTURN,
    "geo_p_o_loop": _oracle_p_o_loop(),
    "geo_ptinproper": ORACLE_PTINPROPER,
    "geo_polyinarea": ORACLE_POLYINAREA,
    "geo_netisoa": ORACLE_NETISOA,
    "geo_featbridge": ORACLE_FEATBRIDGE,
    "geo_lhang": ORACLE_LHANG,
    "geo_ahang": ORACLE_AHANG,
    "vvt_1way": _oracle_vvt_1way(),
    "attr_tportrayf": _oracle_tportrayf(),
}

# DuckDB planning explodes when the UNION/CROSS-JOIN fixture views are
# re-derived per reference (round-2 memory note): materialize them.
def _matz(sql: str) -> str:
    for v in ("geo_lines", "geo_vlines", "geo_vareas", "geo_sites",
              "geo_lines_dup", "geo_points"):
        sql = sql.replace(f"{v} AS (", f"{v} AS MATERIALIZED (")
    return sql


ORACLES = {k: _matz(v) for k, v in ORACLES.items()}
# P_O_LOOP nests ORACLE_LOOPS (which carries its own geo_vlines CTE) inside a
# subquery; materializing BOTH scopes makes DuckDB hoist them into one query
# and fail with "Duplicate alias" — keep this one unmaterialized (it was
# already fast).
ORACLES["geo_p_o_loop"] = _oracle_p_o_loop()
