"""Coverage-family checks (SURVEY.md §2.3 coverage row; round-2 "missing #3").

Reference: GAIT's coverage block (geomchecks.c:37886-39154 — edge matching
MatchAreaEdge :38163, coverage drivers around :37932-39154; check comments
errors.c:11329-11381):

* PNOCOVERLE 141 — point feature not covered by a linear END node within
  tolerance (errors.c:11329);
* LENOCOVERL 144 — line end node not within tolerance of ANOTHER line
  (errors.c:11380);
* NOLCOVLE   149 — same, but coverage may come from the line itself on a
  NON-ADJACENT segment (errors.c:11381);
* LNOCOVERLA 134 — line not covered by another line or an areal edge
  (errors.c:11340);
* LSPANFAIL  140 — line does not span between areal edges: an end node has
  no areal edge within tolerance (errors.c:11341);
* LNOCOV2A   154 — line covered, but by edges of fewer than TWO distinct
  area features (errors.c:11342);
* COINCIDEFAIL 152 — a feature segment fails to coincide with two other
  features (errors.c:11346; segment matching AddEdgeSegment
  geomchecks.c:37932).

Spark-first shape: every check is an ANTI-join (or a count-below-threshold)
over the same k-ring / bbox-cell candidate machinery the proximity family
uses — candidates are generated cell-local, the exact point-to-segment meter
distance (shared SQL text, poly-cos frame) refines them, and "not covered"
is a left-anti join against the covered set, so the full cross product never
materializes in either engine.  COINCIDEFAIL matches exact canonical
quantized segment keys (integer micro-degrees) — a pure hash groupBy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.geodesy import sql_dist_m, sql_point_seg_dist_m
from ..operators.proximity import point_seg_candidates
from ..sources.synthetic import GEO_VIEWS, oracle_cte, register_geo_views
from .vgeomq import _EDGES_CTE, _area_edges

PCOVER_TOL_M = 60.0     # PNOCOVERLE: end node must sit within 60 m
LCOVER_TOL_M = 150.0    # LENOCOVERL / NOLCOVLE / LNOCOVERLA
SPAN_TOL_M = 150.0      # LSPANFAIL / LNOCOV2A
LNOCOVERLA_TOL_M = 25.0 # LNOCOVERLA: tighter, so the fixture has a real mix
_PRE = 0.003            # oracle bbox prefilter half-width (deg) >= tol

# Engine candidate-cell widths.  Correctness only needs cell_deg >= the
# tolerance in degrees (150 m = 0.0019 deg lon at lat 44.5); the 0.01 default
# is ~7x that, and candidate volume scales with cell area, so a tolerance-
# matched width cuts refine work ~16x on the sf0.1 lattice fixtures.
_CELL_150M = 0.0025


# --- geo_pnocoverle (PNOCOVERLE 141) -------------------------------------------


def q_pnocoverle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point features (geo_sites) with NO line end node within tolerance."""
    register_geo_views(spark, sf_dir)
    sites = spark.table("geo_sites").select("site_id", "lon", "lat")
    lines = _lines_narrow(spark)
    ends = lines.selectExpr("x1 AS ex", "y1 AS ey").unionByName(
        lines.selectExpr("x3 AS ex", "y3 AS ey")
    )
    from ..operators.pip import with_point_cell
    from ..operators.proximity import _with_kring_cells

    cell = 0.002  # >= 60 m in degrees at |lat| <= 66
    s = with_point_cell(sites, "lon", "lat", cell)
    e = _with_kring_cells(ends, "ex", "ey", cell)
    covered = (
        s.join(e, "cell")
        .filter(
            F.expr(f"{sql_dist_m('lon', 'lat', 'ex', 'ey')} < {PCOVER_TOL_M}")
        )
        .select("site_id")
        .distinct()
    )
    return sites.join(covered, "site_id", "left_anti").select(
        "site_id", "lon", "lat"
    )


ORACLE_PNOCOVERLE = f"""
{oracle_cte('geo_sites', 'geo_lines')},
ends AS (
  SELECT x1 AS ex, y1 AS ey FROM geo_lines
  UNION ALL
  SELECT x3, y3 FROM geo_lines
),
covered AS (
  SELECT DISTINCT s.site_id
  FROM geo_sites s JOIN ends e
    ON e.ex BETWEEN s.lon - {_PRE} AND s.lon + {_PRE}
   AND e.ey BETWEEN s.lat - {_PRE} AND s.lat + {_PRE}
  WHERE {sql_dist_m('s.lon', 's.lat', 'e.ex', 'e.ey')} < {PCOVER_TOL_M}
)
SELECT site_id, lon, lat FROM geo_sites
WHERE site_id NOT IN (SELECT site_id FROM covered)
"""


# --- shared: geo_lines end nodes and segments ----------------------------------


def _lines_narrow(spark: SparkSession) -> DataFrame:
    """geo_lines coordinate projection (shared by the coverage checks).

    Coverage checks scan geo_lines up to 7x (end-node union legs, segment
    legs, the distinct-segment rollup, the final anti-join).  A .persist()
    here was tried and REJECTED by A/B at sf0.1 (warm 12-14 s recomputing vs
    14-17 s persisted; cold 35 vs 40 s): the view is pure codegen arithmetic
    over a parquet scan, cheaper to recompute than to serialize through the
    block manager.  Keep the narrow projection so each re-derivation prunes
    to 7 columns at the scan.
    """
    return spark.table("geo_lines").select(
        "line_id", "x1", "y1", "x2", "y2", "x3", "y3"
    )


def _line_ends(lines: DataFrame) -> DataFrame:
    """(pid = line_id*2 + end_which, line_id, end_which, px, py).

    ONE inline() Generate over a single scan, NOT a two-leg Union: Catalyst
    pushes LeftAnti/LeftSemi joins below Union (PushdownLeftSemiAntiJoin),
    and every coverage check anti-joins ends against a covered set derived
    from an expensive candidate join — with the Union shape that entire
    subtree was cloned into BOTH legs (EXPLAIN.md geo_lenocoverl showed the
    candidate join + aggregate twice).  A single Generate leg cannot be
    split, so the covered set is computed once.
    """
    return lines.selectExpr(
        "line_id",
        "inline(array(named_struct('end_which', 0, 'px', x1, 'py', y1),"
        " named_struct('end_which', 1, 'px', x3, 'py', y3)))",
    ).selectExpr(
        "line_id * 2 + end_which AS pid", "line_id", "end_which", "px", "py"
    )


def _line_segs(lines: DataFrame) -> DataFrame:
    """(line_id, seg_which 1|2, ax, ay, bx, by) — single-scan inline()
    Generate for the same anti-join-pushdown reason as _line_ends."""
    return lines.selectExpr(
        "line_id",
        "inline(array("
        "named_struct('seg_which', 1, 'ax', x1, 'ay', y1, 'bx', x2, 'by', y2),"
        " named_struct('seg_which', 2, 'ax', x2, 'ay', y2, 'bx', x3, 'by', y3)))",
    ).select("line_id", "seg_which", "ax", "ay", "bx", "by")


_ORACLE_ENDS = """
ends AS (
  SELECT line_id * 2 AS pid, line_id, 0 AS end_which, x1 AS px, y1 AS py
  FROM geo_lines
  UNION ALL
  SELECT line_id * 2 + 1, line_id, 1, x3, y3 FROM geo_lines
),
segs AS (
  SELECT line_id, 1 AS seg_which, x1 AS ax, y1 AS ay, x2 AS bx, y2 AS by
  FROM geo_lines
  UNION ALL
  SELECT line_id, 2, x2, y2, x3, y3 FROM geo_lines
)
"""

_PSD = sql_point_seg_dist_m("e.px", "e.py", "s.ax", "s.ay", "s.bx", "s.by")


#: DuckDB cell-join helpers: interval (IEJoin) candidates evaluate the meter
#: distance on every x-overlapping pair (~5M at sf0.01); the cell equi-join
#: below mirrors the engine's k-ring plan and cuts candidates ~70x.
_CC = 0.01  # cell width (deg) >= every coverage tolerance in this module


def _segc_sql(src: str, out: str, ax="ax", ay="ay", bx="bx", by="by") -> str:
    return f"""
{out}_pre AS (
  SELECT *, LEAST({ax}, {bx}) AS _mnx, GREATEST({ax}, {bx}) AS _mxx,
         LEAST({ay}, {by}) AS _mny, GREATEST({ay}, {by}) AS _mxy
  FROM {src}
),
{out}_x AS (
  SELECT *, unnest(generate_series(CAST(floor(_mnx / {_CC}) AS BIGINT),
                                   CAST(floor(_mxx / {_CC}) AS BIGINT))) AS cellx
  FROM {out}_pre
),
{out} AS MATERIALIZED (
  SELECT *, unnest(generate_series(CAST(floor(_mny / {_CC}) AS BIGINT),
                                   CAST(floor(_mxy / {_CC}) AS BIGINT))) AS celly
  FROM {out}_x
)
"""


def _pk_sql(src: str, out: str, px="px", py="py") -> str:
    return f"""
{out} AS MATERIALIZED (
  SELECT p.*, CAST(floor(p.{px} / {_CC}) AS BIGINT) + d.dx AS cellx,
         CAST(floor(p.{py} / {_CC}) AS BIGINT) + d.dy AS celly
  FROM {src} p,
       (SELECT dx.dx, dy.dy FROM (SELECT unnest([-1, 0, 1]) AS dx) dx,
                                 (SELECT unnest([-1, 0, 1]) AS dy) dy) d
)
"""

_ORACLE_SEG_CAND = f"""
  FROM ends e JOIN segs s
    ON e.px BETWEEN LEAST(s.ax, s.bx) - {_PRE} AND GREATEST(s.ax, s.bx) + {_PRE}
   AND e.py BETWEEN LEAST(s.ay, s.by) - {_PRE} AND GREATEST(s.ay, s.by) + {_PRE}
"""


# --- geo_lenocoverl (LENOCOVERL 144) -------------------------------------------


def q_lenocoverl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line end nodes with no OTHER line segment within tolerance.

    Web-extracted geometry is coincidence-heavy (many features share exact
    geometry), which makes a naive cell join quadratic in the multiplicity:
    37 coincident lines per lattice point at sf0.1 meant ~500M candidate
    pairs.  BOTH join sides therefore dedup by geometry first:

    * segments collapse to DISTINCT (ax, ay, bx, by) carrying (min owner,
      max owner) — a distinct segment covers an end unless its ONLY owner
      is the end's own line;
    * probe ends collapse to DISTINCT (px, py) — whether a coordinate is
      covered depends only on the coordinate, so the expensive candidate
      join runs once per distinct coordinate (2x fewer probes at sf0.1,
      ~7M instead of ~14.5M qualifying pairs) and per-coordinate coverage
      stats (any multi-owner seg; min/max single owner) decide EVERY end
      sharing that coordinate: end (coord, line) is covered iff some
      covering seg has >= 2 owners, or >= 2 distinct single owners cover
      the coord, or the sole single owner is not the end's own line.

    Row-identical to the per-end join (the oracle keeps the naive shape).
    """
    register_geo_views(spark, sf_dir)
    lines = _lines_narrow(spark)
    ends = _line_ends(lines)
    dsegs = (
        _line_segs(lines)
        .groupBy("ax", "ay", "bx", "by")
        # min/max owner in ONE aggregate pass: "covered by another line" is
        # _owner1 <> _ownerN (>= 2 distinct owners) or the single owner is
        # not the end's own line.  countDistinct here forced Spark's
        # two-round expand aggregate — double the shuffle for a bit we can
        # read off min<>max.
        .agg(
            F.min("line_id").alias("_owner1"),
            F.max("line_id").alias("_ownerN"),
        )
        .selectExpr(
            # deterministic geometry key (monotonically_increasing_id would
            # be re-evaluated differently on each reference of this frame)
            "xxhash64(ax, ay, bx, by) AS tgt_id",
            "ax", "ay", "bx", "by", "_owner1", "_ownerN",
        )
    )
    coords = (
        ends.groupBy("px", "py")
        .agg(F.count("*").alias("_n"))
        .selectExpr("xxhash64(px, py) AS src_id", "px", "py")
    )
    cand = point_seg_candidates(
        coords,
        dsegs,
        tol_m=LCOVER_TOL_M,
        cell_deg=_CELL_150M,
        open_interval=False,
        keep_seg_cols=("_owner1", "_ownerN"),
    )
    # per-coordinate coverage stats; map-side combinable, output = |coords|
    covstat = cand.groupBy("src_id").agg(
        F.max(F.expr("_ownerN <> _owner1")).alias("_multi"),
        F.min(F.expr("CASE WHEN _ownerN = _owner1 THEN _owner1 END")).alias("_s1"),
        F.max(F.expr("CASE WHEN _ownerN = _owner1 THEN _owner1 END")).alias("_sN"),
    )
    return (
        ends.withColumn("src_id", F.expr("xxhash64(px, py)"))
        .join(covstat, "src_id", "left")
        .filter(
            F.expr(
                "_multi IS NULL"  # no covering segment at all
                " OR (NOT _multi AND _s1 = _sN AND _s1 = line_id)"
            )
        )
        .selectExpr("line_id", "CAST(end_which AS INT) AS end_which")
    )


ORACLE_LENOCOVERL = f"""
{oracle_cte('geo_lines')},
{_ORACLE_ENDS.strip()},
{_segc_sql('segs', 'segc').strip()},
{_pk_sql('ends', 'pk').strip()},
covered AS (
  SELECT DISTINCT e.pid
  FROM pk e JOIN segc s ON s.cellx = e.cellx AND s.celly = e.celly
  WHERE e.line_id <> s.line_id AND {_PSD} < {LCOVER_TOL_M}
)
SELECT line_id, CAST(end_which AS INT) AS end_which FROM ends
WHERE pid NOT IN (SELECT pid FROM covered)
"""


# --- geo_nolcovle (NOLCOVLE 149) -----------------------------------------------


def q_nolcovle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Like LENOCOVERL, but the line may cover its own end with a
    NON-ADJACENT segment (end 0's adjacent segment is 1; end 1's is 2)."""
    register_geo_views(spark, sf_dir)
    lines = _lines_narrow(spark)
    ends = _line_ends(lines)
    segs = _line_segs(lines).selectExpr(
        "line_id * 10 + seg_which AS tgt_id", "ax", "ay", "bx", "by"
    )
    cand = point_seg_candidates(
        ends.selectExpr("pid AS src_id", "px", "py"),
        segs,
        tol_m=LCOVER_TOL_M,
        cell_deg=_CELL_150M,
        open_interval=False,
    )
    # adjacency exclusion: end 0 <-> seg 1, end 1 <-> seg 2 of the same line
    covered = (
        cand.filter(
            F.expr(
                "NOT (src_id DIV 2 = tgt_id DIV 10"
                " AND tgt_id % 10 = src_id % 2 + 1)"
            )
        )
        .select(F.col("src_id").alias("pid"))
        .distinct()
    )
    return (
        ends.join(covered, "pid", "left_anti")
        .selectExpr("line_id", "CAST(end_which AS INT) AS end_which")
    )


ORACLE_NOLCOVLE = f"""
{oracle_cte('geo_lines')},
{_ORACLE_ENDS.strip()},
{_segc_sql('segs', 'segc').strip()},
{_pk_sql('ends', 'pk').strip()},
covered AS (
  SELECT DISTINCT e.pid
  FROM pk e JOIN segc s ON s.cellx = e.cellx AND s.celly = e.celly
  WHERE NOT (e.line_id = s.line_id AND s.seg_which = e.end_which + 1)
    AND {_PSD} < {LCOVER_TOL_M}
)
SELECT line_id, CAST(end_which AS INT) AS end_which FROM ends
WHERE pid NOT IN (SELECT pid FROM covered)
"""


# --- geo_lnocoverla (LNOCOVERLA 134) -------------------------------------------


def q_lnocoverla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line (probed at its first-segment midpoint) covered by neither another
    line's segment nor an areal ring edge."""
    register_geo_views(spark, sf_dir)
    lines = _lines_narrow(spark)
    probes = lines.selectExpr(
        "line_id AS src_id",
        "(x1 + x2) * 0.5 AS px",
        "(y1 + y2) * 0.5 AS py",
    )
    lsegs = _line_segs(lines).selectExpr(
        "line_id AS tgt_id", "ax", "ay", "bx", "by"
    )
    aedges = _area_edges(spark).selectExpr(
        "-1 - area_id AS tgt_id",  # disjoint id space from line ids
        "ex1 AS ax", "ey1 AS ay", "ex2 AS bx", "ey2 AS by",
    )
    cand = point_seg_candidates(
        probes, lsegs.unionByName(aedges), tol_m=LNOCOVERLA_TOL_M,
        # NOT tolerance-matched: at 0.0005 deg every ~0.005-deg segment
        # becomes a "long" corridor explode (~15 samples each) and the
        # seg-cell side dominates; 0.0025 keeps most segments on the plain
        # bbox cover and the 25 m refine prunes the wider candidates for
        # free (A/B at sf0.1: 13.9 s @ 0.0005 -> 4.3 s @ 0.0025 warm).
        cell_deg=_CELL_150M,
        open_interval=False,
    )
    covered = (
        cand.filter(F.expr("tgt_id < 0 OR tgt_id <> src_id"))
        .select(F.col("src_id").alias("line_id"))
        .distinct()
    )
    return lines.select("line_id").join(covered, "line_id", "left_anti")


ORACLE_LNOCOVERLA = f"""
{oracle_cte('geo_lines', 'geo_vareas')},
{_EDGES_CTE.strip().replace('edges AS (', 'edges AS MATERIALIZED (')},
probes AS (
  SELECT line_id, (x1 + x2) * 0.5 AS px, (y1 + y2) * 0.5 AS py FROM geo_lines
),
lsegs AS (
  SELECT line_id AS tgt, x1 AS ax, y1 AS ay, x2 AS bx, y2 AS by FROM geo_lines
  UNION ALL
  SELECT line_id, x2, y2, x3, y3 FROM geo_lines
  UNION ALL
  SELECT -1 - area_id, ex1, ey1, ex2, ey2 FROM edges
),
{_segc_sql('lsegs', 'lsegc').strip()},
{_pk_sql('probes', 'ppk').strip()},
covered AS (
  SELECT DISTINCT e.line_id
  FROM ppk e JOIN lsegc s ON s.cellx = e.cellx AND s.celly = e.celly
  WHERE (s.tgt < 0 OR s.tgt <> e.line_id) AND {_PSD} < {LNOCOVERLA_TOL_M}
)
SELECT line_id FROM geo_lines
WHERE line_id NOT IN (SELECT line_id FROM covered)
"""


# --- geo_lspanfail (LSPANFAIL 140) / geo_lnocov2a (LNOCOV2A 154) ----------------


def _end_area_cover(spark: SparkSession) -> DataFrame:
    """(pid, line_id, end_which, area_id) end-node-to-areal-edge coverage."""
    lines = _lines_narrow(spark)
    ends = _line_ends(lines)
    aedges = _area_edges(spark).selectExpr(
        "area_id AS tgt_id", "ex1 AS ax", "ey1 AS ay", "ex2 AS bx", "ey2 AS by"
    )
    cand = point_seg_candidates(
        ends.selectExpr("pid AS src_id", "px", "py"),
        aedges,
        tol_m=SPAN_TOL_M,
        cell_deg=_CELL_150M,
        open_interval=False,
    )
    # duplicate (pid, area_id) pairs are fine: downstream consumers reduce
    # with distinct / countDistinct
    return cand.selectExpr(
        "src_id AS pid", "src_id DIV 2 AS line_id",
        "CAST(src_id % 2 AS INT) AS end_which", "tgt_id AS area_id",
    )


_ORACLE_END_AREA = f"""
{_segc_sql('edges', 'edgec2', ax='ex1', ay='ey1', bx='ex2', by='ey2').strip()},
{_pk_sql('ends', 'epk').strip()},
cover AS (
  SELECT DISTINCT e.pid, e.line_id, e.end_which, s.area_id
  FROM epk e JOIN edgec2 s ON s.cellx = e.cellx AND s.celly = e.celly
  WHERE {sql_point_seg_dist_m('e.px', 'e.py', 's.ex1', 's.ey1', 's.ex2', 's.ey2')}
        < {SPAN_TOL_M}
)
"""


def q_lspanfail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lines that do NOT span between areal edges: at least one end node has
    no areal ring edge within tolerance.  Reports ends covered (0..1)."""
    register_geo_views(spark, sf_dir)
    lines = _lines_narrow(spark)
    cov = _end_area_cover(spark).select("line_id", "end_which").distinct()
    per_line = cov.groupBy("line_id").agg(
        F.count("*").alias("n_ends_covered")
    )
    return (
        lines.select("line_id")
        .join(per_line, "line_id", "left")
        .withColumn(
            "n_ends_covered",
            F.coalesce(F.col("n_ends_covered"), F.lit(0)).cast("bigint"),
        )
        .filter(F.col("n_ends_covered") < 2)
    )


ORACLE_LSPANFAIL = f"""
{oracle_cte('geo_lines', 'geo_vareas')},
{_EDGES_CTE.strip().replace('edges AS (', 'edges AS MATERIALIZED (')},
{_ORACLE_ENDS.strip()},
{_ORACLE_END_AREA.strip()},
per_line AS (
  SELECT line_id, COUNT(DISTINCT end_which) AS n_ends_covered FROM cover GROUP BY 1
)
SELECT g.line_id,
       CAST(COALESCE(p.n_ends_covered, 0) AS BIGINT) AS n_ends_covered
FROM geo_lines g LEFT JOIN per_line p ON p.line_id = g.line_id
WHERE COALESCE(p.n_ends_covered, 0) < 2
"""


def q_lnocov2a(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lines that span (both ends covered by areal edges) but whose covering
    edges belong to fewer than TWO distinct area features."""
    register_geo_views(spark, sf_dir)
    cov = _end_area_cover(spark)
    per_line = cov.groupBy("line_id").agg(
        F.countDistinct("end_which").alias("_ne"),
        F.countDistinct("area_id").alias("n_areas"),
    )
    return (
        per_line.filter((F.col("_ne") == 2) & (F.col("n_areas") < 2))
        .selectExpr("line_id", "CAST(n_areas AS BIGINT) AS n_areas")
    )


ORACLE_LNOCOV2A = f"""
{oracle_cte('geo_lines', 'geo_vareas')},
{_EDGES_CTE.strip().replace('edges AS (', 'edges AS MATERIALIZED (')},
{_ORACLE_ENDS.strip()},
{_ORACLE_END_AREA.strip()},
per_line AS (
  SELECT line_id,
         COUNT(DISTINCT end_which) AS ne,
         COUNT(DISTINCT area_id) AS n_areas
  FROM cover GROUP BY 1
)
SELECT line_id, CAST(n_areas AS BIGINT) AS n_areas
FROM per_line WHERE ne = 2 AND n_areas < 2
"""


# --- geo_coincidefail (COINCIDEFAIL 152) ----------------------------------------
#
# Target features = the first copy of each geometry seed in geo_lines_dup
# (line_id < 997); covering features = the second and third copies, with a
# PLANTED gap (the second copy of every 13th seed is withheld).  A target
# whose canonical quantized segment key coincides with fewer than 2 covering
# features is the condition — exact integer key matching, the declarative
# form of AddEdgeSegment/MatchAreaEdge's edge-list pairing.

_DUPKEY = (
    "concat(CAST(CAST(floor(x1 * 1000000.0) AS BIGINT) AS STRING), ':',"
    " CAST(CAST(floor(y1 * 1000000.0) AS BIGINT) AS STRING), ':',"
    " CAST(CAST(floor(x2 * 1000000.0) AS BIGINT) AS STRING), ':',"
    " CAST(CAST(floor(y2 * 1000000.0) AS BIGINT) AS STRING))"
)


def q_coincidefail(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_geo_views(spark, sf_dir)
    d = spark.table("geo_lines_dup")
    targets = d.filter("line_id < 997").selectExpr(
        "line_id", f"{_DUPKEY} AS k"
    )
    covers = d.filter(
        F.expr(
            "line_id >= 997 AND line_id < 2991"
            " AND NOT (line_id < 1994 AND line_id % 997 % 13 = 0)"
        )
    ).selectExpr(f"{_DUPKEY} AS k", "line_id AS cover_id")
    counts = (
        targets.join(covers, "k", "left")
        .groupBy("line_id")
        .agg(
            F.sum(
                F.when(F.col("cover_id").isNotNull(), 1).otherwise(0)
            ).alias("n_coincident")
        )
        .filter(F.col("n_coincident") < 2)
        .selectExpr("line_id", "CAST(n_coincident AS BIGINT) AS n_coincident")
    )
    return counts


ORACLE_COINCIDEFAIL = f"""
WITH geo_lines_dup AS ({GEO_VIEWS['geo_lines_dup']}),
targets AS (
  SELECT line_id, {_DUPKEY} AS k FROM geo_lines_dup WHERE line_id < 997
),
covers AS (
  SELECT {_DUPKEY} AS k, line_id AS cover_id FROM geo_lines_dup
  WHERE line_id >= 997 AND line_id < 2991
    AND NOT (line_id < 1994 AND line_id % 997 % 13 = 0)
)
SELECT t.line_id,
       CAST(SUM(CASE WHEN c.cover_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       AS n_coincident
FROM targets t LEFT JOIN covers c ON c.k = t.k
GROUP BY 1 HAVING SUM(CASE WHEN c.cover_id IS NOT NULL THEN 1 ELSE 0 END) < 2
"""


QUERIES = {
    "geo_pnocoverle": q_pnocoverle,
    "geo_lenocoverl": q_lenocoverl,
    "geo_nolcovle": q_nolcovle,
    "geo_lnocoverla": q_lnocoverla,
    "geo_lspanfail": q_lspanfail,
    "geo_lnocov2a": q_lnocov2a,
    "geo_coincidefail": q_coincidefail,
}

ORACLES = {
    "geo_pnocoverle": ORACLE_PNOCOVERLE,
    "geo_lenocoverl": ORACLE_LENOCOVERL,
    "geo_nolcovle": ORACLE_NOLCOVLE,
    "geo_lnocoverla": ORACLE_LNOCOVERLA,
    "geo_lspanfail": ORACLE_LSPANFAIL,
    "geo_lnocov2a": ORACLE_LNOCOV2A,
    "geo_coincidefail": ORACLE_COINCIDEFAIL,
}

# DuckDB planning explodes when the UNION/CROSS-JOIN fixture views are
# re-derived per reference (round-2 memory note): materialize them.
def _matz(sql: str) -> str:
    for v in ("geo_lines", "geo_vlines", "geo_vareas", "geo_sites",
              "geo_lines_dup", "geo_points"):
        sql = sql.replace(f"{v} AS (", f"{v} AS MATERIALIZED (")
    return sql


ORACLES = {k: _matz(v) for k, v in ORACLES.items()}
