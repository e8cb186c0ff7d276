"""k-ring proximity / distance join (GAIT's PTPTPROX / PLPROX / undershoot family).

GAIT finds near pairs by scanning each region plus its neighbors
(PerformLinearOverUnderChecks geomchecks.c:5266; neighbor loads TT.c:44027).
The Spark-native shape is a **k-ring cell join**:

1. choose a cell width >= tolerance (so any qualifying pair is in the same or
   an adjacent cell),
2. duplicate the *right* side into its 3x3 cell neighborhood (k-ring, k=1) —
   cheap explode of 9 literals,
3. equi-join on cell, dedupe the pair with ``a.id < b.id`` (GAIT's pair memo
   CheckThisLinePair geomchecks.c:10703 done declaratively),
4. refine with the exact distance expression — evaluated **JVM-side** from the
   same SQL text the DuckDB oracle runs, so both engines compare bit-identical
   doubles against the tolerance.

No UDF in this operator at all: whole-stage codegen end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.geodesy import (
    sql_dist_m,
    sql_euclidean_dist,
    sql_point_seg_dist_m,
    with_point_seg_dist_m,
)
from .pip import cell_id, explode_bbox_cells, with_point_cell


def _with_kring_cells(df: DataFrame, lon: str, lat: str, cell_deg: float) -> DataFrame:
    ix = F.floor(F.col(lon) / F.lit(cell_deg))
    iy = F.floor(F.col(lat) / F.lit(cell_deg))
    one_ring = F.array(F.lit(-1), F.lit(0), F.lit(1))
    df = df.withColumn("_dx", F.explode(one_ring)).withColumn(
        "_dy", F.explode(one_ring)
    )
    return df.withColumn(
        "cell", cell_id(ix + F.col("_dx"), iy + F.col("_dy"))
    ).drop("_dx", "_dy")


def point_proximity_pairs(
    points: DataFrame,
    id_col: str = "site_id",
    lon: str = "lon",
    lat: str = "lat",
    tol_m: float = 50000.0,
    cell_deg: float | None = None,
    max_abs_lat_deg: float = 66.0,
    frame: str = "geodetic",
) -> DataFrame:
    """Self-join: unordered point pairs with 0 < dist < tol_m (PTPTPROX 95).

    Returns (id_a, id_b, dist_mm) with id_a < id_b and dist_mm = floor(m*1000).

    Cell sizing: a pair within tol_m spans at most tol_m / (111319.5 *
    cos(max_abs_lat)) degrees of LONGITUDE, which exceeds the latitude span —
    the k=1 ring only guarantees capture if the cell is at least that wide, so
    the width is derived from the worst-case latitude of the dataset (pass the
    true data bound for tighter cells; at scale this comes from the cell
    histogram stats).

    frame: "geodetic" (degrees in, equirect meters — Ctype() == 1) or
    "euclidean" (PROJECTED meters in, planar distance — the reference's
    Distance() dispatch to EuclideanDistance when the coordinate system is
    projected, TT.c:7151/7128, Ctype() SEEIT_API.c:122).  In the euclidean
    frame the cell width is tol_m itself (coords already meters).
    """
    import math

    if cell_deg is None:
        if frame == "euclidean":
            cell_deg = tol_m * 1.001
        else:
            worst_mlon = 111319.5 * math.cos(math.radians(max_abs_lat_deg))
            cell_deg = max(tol_m / worst_mlon * 1.001, 1e-6)
    left = with_point_cell(points, lon, lat, cell_deg).select(
        F.col(id_col).alias("id_a"),
        F.col(lon).alias("_xa"),
        F.col(lat).alias("_ya"),
        "cell",
    )
    right = _with_kring_cells(points, lon, lat, cell_deg).select(
        F.col(id_col).alias("id_b"),
        F.col(lon).alias("_xb"),
        F.col(lat).alias("_yb"),
        "cell",
    )
    pairs = left.join(right, "cell").filter(F.col("id_a") < F.col("id_b"))
    if frame == "euclidean":
        dist = F.expr(sql_euclidean_dist("_xa", "_ya", "_xb", "_yb"))
    else:
        dist = F.expr(sql_dist_m("_xa", "_ya", "_xb", "_yb"))
    # the left side occupies exactly ONE cell and the right side's k-ring hits
    # that cell at most once, so pairs are already unique — no dedup shuffle
    out = (
        pairs.withColumn("_d", dist)
        .filter((F.col("_d") > 0) & (F.col("_d") < F.lit(tol_m)))
        .select(
            "id_a",
            "id_b",
            F.expr("CAST(floor(_d * 1000.0) AS BIGINT)").alias("dist_mm"),
        )
    )
    return out


def knn_points(
    points: DataFrame,
    k: int = 3,
    id_col: str = "site_id",
    lon: str = "lon",
    lat: str = "lat",
    radius_m: float = 100000.0,
    max_abs_lat_deg: float = 66.0,
) -> DataFrame:
    """k nearest neighbors per point within a search radius (H3-k-ring-style
    kNN operator of the north star): k-ring candidate join + per-point window
    rank.  Returns (site_id, neighbor_id, rank, dist_mm), rank 1..k by
    (distance, neighbor id)."""
    import math

    from pyspark.sql.window import Window

    cell_deg = max(
        radius_m / (111319.5 * math.cos(math.radians(max_abs_lat_deg))) * 1.001, 1e-6
    )
    left = with_point_cell(points, lon, lat, cell_deg).select(
        F.col(id_col).alias("site_id"),
        F.col(lon).alias("_xa"),
        F.col(lat).alias("_ya"),
        "cell",
    )
    right = _with_kring_cells(points, lon, lat, cell_deg).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(lon).alias("_xb"),
        F.col(lat).alias("_yb"),
        "cell",
    )
    d = F.expr(sql_dist_m("_xa", "_ya", "_xb", "_yb"))
    cands = (
        left.join(right, "cell")
        .filter(F.col("site_id") != F.col("neighbor_id"))
        .withColumn("_d", d)
        .filter(F.col("_d") < F.lit(radius_m))
    )
    w = Window.partitionBy("site_id").orderBy(F.col("_d").asc(), F.col("neighbor_id").asc())
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "site_id",
            "neighbor_id",
            F.col("rank").cast("bigint").alias("rank"),
            F.expr("CAST(floor(_d * 1000.0) AS BIGINT)").alias("dist_mm"),
        )
    )


def point_seg_candidates(
    points: DataFrame,
    segments: DataFrame,
    tol_m: float,
    point_id: str = "src_id",
    px: str = "px",
    py: str = "py",
    seg_id: str = "tgt_id",
    ax: str = "ax",
    ay: str = "ay",
    bx: str = "bx",
    by: str = "by",
    cell_deg: float = 0.01,
    open_interval: bool = True,
    keep_seg_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Qualifying (point, segment) pairs BEFORE any per-pair aggregation.

    Returns (point_id, seg_id, *keep_seg_cols, _d) for every candidate pair
    with distance < tol_m.  A pair may appear MORE THAN ONCE (a point's k-ring
    and a segment's cell cover can co-locate the same pair through several
    cells) — callers that need set semantics must aggregate or distinct.
    Coverage-style checks ("is this point covered by ANY segment passing a
    predicate?") should consume this directly and reduce straight to a
    distinct point set: routing through point_to_segment_proximity first
    forces a (point, seg) hash aggregate over millions of pairs plus a
    join-back for the segment attributes, which at sf0.1 tripled the
    LENOCOVERL wall time.

    keep_seg_cols: extra segment-side columns carried through the cell join
    (e.g. owner/count metadata), avoiding a re-join on seg_id afterwards.
    """
    segs = segments.select(
        F.col(seg_id),
        *[F.col(c) for c in keep_seg_cols],
        F.col(ax).alias("_sax"),
        F.col(ay).alias("_say"),
        F.col(bx).alias("_sbx"),
        F.col(by).alias("_sby"),
        F.least(F.col(ax), F.col(bx)).alias("_minx"),
        F.greatest(F.col(ax), F.col(bx)).alias("_maxx"),
        F.least(F.col(ay), F.col(by)).alias("_miny"),
        F.greatest(F.col(ay), F.col(by)).alias("_maxy"),
    )
    # Long diagonal segments must NOT take the bbox cell cover: a 4-degree
    # diagonal covers 160k bbox cells but its tolerance corridor only touches
    # ~400.  Split: short segments (bbox <= ~3x3 cells) keep the plain bbox
    # cover (probe k-ring guarantees capture); long segments explode to
    # SAMPLED corridor cells — one sample per cell step along the dominant
    # axis, each with its own 3x3 ring, so a point within one cell of the
    # segment always shares a cell with some sample's ring (probe ring covers
    # the remaining one-cell separation).
    ncell = (
        (F.floor(F.col("_maxx") / cell_deg) - F.floor(F.col("_minx") / cell_deg) + 1)
        * (F.floor(F.col("_maxy") / cell_deg) - F.floor(F.col("_miny") / cell_deg) + 1)
    )
    short = segs.filter(ncell <= 9)
    long = segs.filter(ncell > 9)
    short_cells = explode_bbox_cells(
        short, "_minx", "_maxx", "_miny", "_maxy", cell_deg
    )
    nsteps = F.greatest(
        F.ceil(
            F.greatest(
                F.abs(F.col("_sbx") - F.col("_sax")),
                F.abs(F.col("_sby") - F.col("_say")),
            )
            / F.lit(cell_deg)
        ).cast("int"),
        F.lit(1),
    )
    sampled = (
        long.withColumn("_n", nsteps)
        .withColumn("_i", F.explode(F.expr("sequence(0, _n)")))
        .withColumn(
            "_sx", F.col("_sax") + (F.col("_sbx") - F.col("_sax")) * F.col("_i") / F.col("_n")
        )
        .withColumn(
            "_sy", F.col("_say") + (F.col("_sby") - F.col("_say")) * F.col("_i") / F.col("_n")
        )
    )
    ring = F.array(F.lit(-1), F.lit(0), F.lit(1))
    # Consecutive samples stride <= 1 cell per axis, so sample i's 3x3 ring
    # overlaps sample i-1's in 4-6 of 9 cells.  Excluding cells already
    # covered by the PREVIOUS sample's ring is pure codegen arithmetic
    # (recompute the predecessor's cell indices from the same line equation)
    # and replaces the dropDuplicates([seg_id, cell]) SHUFFLE that used to
    # dedup the ~2.5x-duplicated explode (13.9M rows shuffled to produce
    # 5.5M at sf0.1 — the single most expensive stage of every coverage
    # check).  Residual duplicate (seg, cell) rows from NON-adjacent samples
    # are rare and allowed: the function contract says pairs may repeat and
    # callers aggregate.
    cx = F.floor(F.col("_sx") / cell_deg)
    cy = F.floor(F.col("_sy") / cell_deg)
    prevx = F.col("_sax") + (F.col("_sbx") - F.col("_sax")) * (F.col("_i") - 1) / F.col("_n")
    prevy = F.col("_say") + (F.col("_sby") - F.col("_say")) * (F.col("_i") - 1) / F.col("_n")
    pcx = F.floor(prevx / cell_deg)
    pcy = F.floor(prevy / cell_deg)
    long_cells = (
        sampled.withColumn("_dx", F.explode(ring))
        .withColumn("_dy", F.explode(ring))
        .filter(
            (F.col("_i") == 0)
            | (F.abs(cx + F.col("_dx") - pcx) > 1)
            | (F.abs(cy + F.col("_dy") - pcy) > 1)
        )
        .withColumn("cell", cell_id(cx + F.col("_dx"), cy + F.col("_dy")))
        .select(*short_cells.columns)
    )
    segs_cells = short_cells.unionByName(long_cells)

    pts = points.select(F.col(point_id), F.col(px).alias("_px"), F.col(py).alias("_py"))
    pts_cells = _with_kring_cells(pts, "_px", "_py", cell_deg)

    pairs = pts_cells.join(segs_cells, "cell")
    # cheap DEGREE-space corridor prefilter before the poly-cos meter refine:
    # meter distance >= 45277 * degree distance for |lat| <= 66, so
    # d_deg < tol/45000 is a safe superset of dist_m < tol.  Long segments
    # cover many cells (a 4-degree feature spans ~400), so cell matches vastly
    # outnumber true candidates — this one-line filter cut a 285M-pair join
    # to the true corridor at sf0.1.
    tol_deg = tol_m / 45000.0
    pre = (
        "(CASE WHEN (_c2p) <= 0.0 THEN (_wxp) * (_wxp) + (_wyp) * (_wyp)"
        " WHEN (_c1p) <= 0.0 THEN (_wxp) * (_wxp) + (_wyp) * (_wyp)"
        " WHEN (_c1p) >= (_c2p) THEN"
        "  (_px - _sbx) * (_px - _sbx) + (_py - _sby) * (_py - _sby)"
        " ELSE ((_wxp) - (_c1p) / (_c2p) * (_vxp))"
        "      * ((_wxp) - (_c1p) / (_c2p) * (_vxp))"
        "      + ((_wyp) - (_c1p) / (_c2p) * (_vyp))"
        "      * ((_wyp) - (_c1p) / (_c2p) * (_vyp)) END)"
        .replace("_vxp", "(_sbx - _sax)")
        .replace("_vyp", "(_sby - _say)")
        .replace("_wxp", "(_px - _sax)")
        .replace("_wyp", "(_py - _say)")
        .replace(
            "_c1p",
            "((_sbx - _sax) * (_px - _sax) + (_sby - _say) * (_py - _say))",
        )
        .replace(
            "_c2p",
            "((_sbx - _sax) * (_sbx - _sax) + (_sby - _say) * (_sby - _say))",
        )
    )
    pairs = pairs.filter(F.expr(f"{pre} < {tol_deg * tol_deg}"))
    # staged-column refine: the flat sql_point_seg_dist_m text is ~49 KB and
    # fails janino's 64 KB method limit (interpreted fallback, ~8x slower on
    # the candidate volume); the staged twin is bit-identical (see geodesy).
    pairs = with_point_seg_dist_m(
        pairs,
        "_px",
        "_py",
        "_sax",
        "_say",
        "_sbx",
        "_sby",
        out="_d",
        block_pushdown=True,
    )
    lower = (
        (F.col("_d") > F.lit(0.0))
        if open_interval
        else (F.col("_d") >= F.lit(0.0))
    )
    return pairs.filter(lower & (F.col("_d") < F.lit(tol_m))).select(
        point_id, seg_id, *keep_seg_cols, "_d"
    )


def point_to_segment_proximity(
    points: DataFrame,
    segments: DataFrame,
    tol_m: float,
    point_id: str = "src_id",
    px: str = "px",
    py: str = "py",
    seg_id: str = "tgt_id",
    ax: str = "ax",
    ay: str = "ay",
    bx: str = "bx",
    by: str = "by",
    cell_deg: float = 0.01,
    open_interval: bool = True,
) -> DataFrame:
    """End-node -> segment distance join: GAIT's undershoot template
    (LUNDERSHTL, OPENINT 0 < d < tol on end-node-to-line distance,
    geomchecks.c:6432-6753).

    points:   (point_id, px, py)  — e.g. dangling line end nodes
    segments: (seg_id, ax, ay, bx, by)
    Returns (point_id, seg_id, dist_mm) for pairs with 0 < d < tol_m
    (closed lower bound if open_interval=False), point's own feature excluded
    by the caller via ids.

    Build side = segments duplicated into bbox-covered cells; probe side =
    points duplicated into their 3x3 k-ring, so any pair within one cell width
    is guaranteed to co-locate.  Requires cell_deg >= tol_m in degrees.
    """
    pairs = point_seg_candidates(
        points,
        segments,
        tol_m,
        point_id=point_id,
        px=px,
        py=py,
        seg_id=seg_id,
        ax=ax,
        ay=ay,
        bx=bx,
        by=by,
        cell_deg=cell_deg,
        open_interval=open_interval,
    )
    # a (point, seg_id) pair can qualify through SEVERAL underlying rows —
    # duplicate cells of the k-ring (same distance) or, when the caller maps
    # several segments to one seg_id, different segments with DIFFERENT
    # distances.  Aggregate the MIN so the reported distance is
    # deterministic (dropDuplicates kept an arbitrary row).
    return pairs.groupBy(point_id, seg_id).agg(
        F.min(F.expr("CAST(floor(_d * 1000.0) AS BIGINT)")).alias("dist_mm")
    )
