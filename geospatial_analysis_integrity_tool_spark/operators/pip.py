"""Point-in-polygon spatial hash join (the north rule's flagship operator).

Strategy (replaces GAIT's per-region nested loop, CheckRegion TT.c:43916 +
PointInsidePoly TT.c:6920):

1. **Cell encode** both sides onto an integer lon/lat grid: points to their
   single cell, polygons to every cell their bbox covers (the Spark analogue of
   GAIT's neighbor-region duplication, TT.c:44027-44030 /
   FindApplicableNeighborFeatures geomchecks.c:4602).
2. **Equi-join on cell id**, then a JVM-side **bbox prefilter** mirroring
   GAIT's minxvtx/maxxvtx prefilter (share_linux.h:710).  Catalyst broadcasts
   the cover when it is small; AQE splits skewed cells otherwise.
3. **Exact refine** in one ``mapInPandas`` kernel: it groups each Arrow batch
   by polygon and ray casts the group's points against that polygon's ring.

One cheap aggregate over the polygons routes the build on their true vertex
bytes.  Up to :data:`BROADCAST_MAX_VERTEX_BYTES`, the rings are collected
once (NaN vertices stripped) and travel as a **Spark broadcast**
``{poly_id: (ring_x, ring_y)}``, so the cover carries only (poly_id, bbox,
cell) and the join output stays narrow.  Shipping vertices per candidate row
through Arrow was measured 5-10x slower (serialization bound, see SCALE.md),
so only polygon sets too large for the driver (continent mosaics) take the
shipped build: the rings ride the cover as ``_pxs``/``_pys`` columns and the
kernel reads each group's ring from its first row.  :func:`pip_join_salted`
swaps the equi-join for the hot-cell ``salted_join`` and shares the rest.

Because the probe side occupies exactly one cell, every (point, polygon) pair
can only meet in that cell — the join output is already duplicate-free and
the whole operator runs **without any shuffle** when the cover broadcasts.
No Spark action ever runs on ``points``, so they may be a streaming frame.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..functions.geometry import pip_ray_cast_ring

#: grid cell width in degrees for the spatial hash; 1 deg ~ 111 km. Chosen per
#: dataset density by plans/partitioning.choose_cell_deg at scale.
DEFAULT_CELL_DEG = 4.0

#: polygon sets whose vertices (16 bytes each) exceed this are not collected
#: and broadcast — their rings ride the join instead
BROADCAST_MAX_VERTEX_BYTES = 256 * 1024 * 1024

_BBOX = ("_minx", "_maxx", "_miny", "_maxy")
_SHIPPED = ("_pxs", "_pys")


def cell_id(ix: Column, iy: Column) -> Column:
    """Pack (ix, iy) grid indexes into one BIGINT shuffle key.

    Valid for |ix|, |iy| < 2^30 — i.e. any cell width >= ~1e-6 deg.
    """
    return (ix.cast("bigint") + F.lit(1073741824)) * F.lit(2147483648) + (
        iy.cast("bigint") + F.lit(1073741824)
    )


def with_point_cell(df: DataFrame, lon: str, lat: str, cell_deg: float) -> DataFrame:
    ix = F.floor(F.col(lon) / F.lit(cell_deg))
    iy = F.floor(F.col(lat) / F.lit(cell_deg))
    return df.withColumn("cell", cell_id(ix, iy))


def explode_bbox_cells(
    df: DataFrame,
    minx: str,
    maxx: str,
    miny: str,
    maxy: str,
    cell_deg: float,
) -> DataFrame:
    """One row per (feature, covered cell) — the duplicated build side."""
    ix0 = F.floor(F.col(minx) / F.lit(cell_deg))
    ix1 = F.floor(F.col(maxx) / F.lit(cell_deg))
    iy0 = F.floor(F.col(miny) / F.lit(cell_deg))
    iy1 = F.floor(F.col(maxy) / F.lit(cell_deg))
    return (
        df.withColumn("_ix", F.explode(F.sequence(ix0, ix1)))
        .withColumn("_iy", F.explode(F.sequence(iy0, iy1)))
        .withColumn("cell", cell_id(F.col("_ix"), F.col("_iy")))
        .drop("_ix", "_iy")
    )


def _ring(xs, ys) -> tuple[np.ndarray, np.ndarray]:
    rx = np.asarray(xs, dtype=np.float64)
    ry = np.asarray(ys, dtype=np.float64)
    return rx[~np.isnan(rx)], ry[~np.isnan(ry)]


def _cover(polys: DataFrame, poly_id: str, xs: str, ys: str, cell_deg: float):
    """-> (cell cover of the polygon bboxes, broadcast rings or None).

    None means the shipped build: the cover carries the rings as _pxs/_pys.
    """
    n_verts = polys.select(F.sum(F.size(xs))).first()[0] or 0
    cols = [
        F.col(poly_id),
        F.array_min(xs).alias("_minx"),
        F.array_max(xs).alias("_maxx"),
        F.array_min(ys).alias("_miny"),
        F.array_max(ys).alias("_maxy"),
    ]
    if n_verts * 16 > BROADCAST_MAX_VERTEX_BYTES:
        rings = None
        cols += [F.col(xs).alias("_pxs"), F.col(ys).alias("_pys")]
    else:
        ppd = polys.select(poly_id, xs, ys).toPandas()
        rings = polys.sparkSession.sparkContext.broadcast(
            {p: _ring(x, y) for p, x, y in zip(ppd[poly_id], ppd[xs], ppd[ys])}
        )
    return explode_bbox_cells(polys.select(*cols), *_BBOX, cell_deg), rings


def _refine(
    joined: DataFrame, lon: str, lat: str, poly_id: str, rings, kernel: str
) -> DataFrame:
    """bbox prefilter + exact ring test over the cell-joined candidates.

    kernel="gait" swaps the fast half-open ray cast for the REFERENCE-EXACT
    PointInsidePoly transcription (functions/gait_parity.py, fuzzed
    bit-for-bit against the compiled C — TT.c:6920): identical answers off
    the boundary-degenerate set, reference tie-breaks ON it (vertex-on-ray
    collinear runs).
    """
    cands = joined.filter(
        (F.col(lon) >= F.col("_minx"))
        & (F.col(lon) <= F.col("_maxx"))
        & (F.col(lat) >= F.col("_miny"))
        & (F.col(lat) <= F.col("_maxy"))
    ).drop("cell", *_BBOX)
    out_schema = StructType([f for f in cands.schema.fields if f.name not in _SHIPPED])
    out_cols = out_schema.fieldNames()

    if kernel == "gait":
        from ..functions.gait_parity import point_inside_poly_gait_ring as ring_test
    else:
        ring_test = pip_ray_cast_ring

    def refine(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        lookup = rings.value if rings is not None else None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pdf = pdf.reset_index(drop=True)
            keep = np.zeros(len(pdf), dtype=bool)
            for pid, grp in pdf.groupby(poly_id, sort=False):
                if lookup is None:
                    rx, ry = _ring(grp["_pxs"].iat[0], grp["_pys"].iat[0])
                else:
                    rx, ry = lookup[pid]
                keep[grp.index.to_numpy()] = ring_test(
                    grp[lon].to_numpy(), grp[lat].to_numpy(), rx, ry
                )
            if keep.any():
                yield pdf.loc[keep, out_cols]

    return cands.mapInPandas(refine, schema=out_schema)


def pip_join(
    points: DataFrame,
    polys: DataFrame,
    point_id: str = "point_id",
    lon: str = "lon",
    lat: str = "lat",
    poly_id: str = "poly_id",
    xs: str = "xs",
    ys: str = "ys",
    cell_deg: float = DEFAULT_CELL_DEG,
    kernel: str = "fast",
) -> DataFrame:
    """points (id, lon, lat, ...) x polys (id, xs: array, ys: array) -> matches.

    Output: every points column plus poly_id, one row per (point, polygon)
    whose ring contains the point.  kernel="fast" (half-open ray cast) or
    "gait" (reference-exact PointInsidePoly).
    """
    cover, rings = _cover(polys, poly_id, xs, ys, cell_deg)
    joined = with_point_cell(points, lon, lat, cell_deg).join(cover, "cell")
    return _refine(joined, lon, lat, poly_id, rings, kernel)


def pip_join_salted(
    points: DataFrame,
    polys: DataFrame,
    point_id: str = "point_id",
    lon: str = "lon",
    lat: str = "lat",
    poly_id: str = "poly_id",
    xs: str = "xs",
    ys: str = "ys",
    cell_deg: float = DEFAULT_CELL_DEG,
    target_rows_per_task: int = 100_000,
) -> DataFrame:
    """pip_join with the hot-cell salt plan applied (north rule: "skew
    detected per-cell-histogram and hot cells split before shuffle").

    Row-identical to :func:`pip_join` — salting only reshapes the physical
    plan (probe rows scatter by stable hash over k salts; build rows
    replicate) — which is exactly what the shared oracle verifies.
    """
    from ..plans.partitioning import cell_histogram, salt_plan, salted_join

    cover, rings = _cover(polys, poly_id, xs, ys, cell_deg)
    pts_cells = with_point_cell(points, lon, lat, cell_deg)
    plan = salt_plan(
        cell_histogram(pts_cells), target_rows_per_task=target_rows_per_task
    )
    joined = salted_join(pts_cells, cover, plan, probe_id=point_id)
    return _refine(joined, lon, lat, poly_id, rings, "fast")
