"""Operator-level tests on planted fixtures (golden-row style, FIXTURES.md §6)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


def test_pip_join_planted(spark):
    """pip_in_01 / pip_out_01 analogue: known inside/outside points."""
    from geospatial_analysis_integrity_tool_spark.operators.pip import pip_join

    pts = spark.createDataFrame(
        [(1, 0.5, 0.5), (2, 5.0, 5.0), (3, 0.99, 0.01), (4, -0.01, 0.5)],
        "point_id int, lon double, lat double",
    )
    polys = spark.createDataFrame(
        [(10, [0.0, 1.0, 1.0, 0.0], [0.0, 0.0, 1.0, 1.0])],
        "poly_id int, xs array<double>, ys array<double>",
    )
    got = {
        (r.point_id, r.poly_id)
        for r in pip_join(pts, polys, cell_deg=1.0).collect()
    }
    assert got == {(1, 10), (3, 10)}


def test_pip_join_cross_cell_duplication(spark):
    """A polygon spanning many cells must match each point exactly once."""
    from geospatial_analysis_integrity_tool_spark.operators.pip import pip_join

    pts = spark.createDataFrame(
        [(1, 0.0, 0.0), (2, 7.9, 7.9)], "point_id int, lon double, lat double"
    )
    polys = spark.createDataFrame(
        [(10, [-8.0, 8.0, 8.0, -8.0], [-8.0, -8.0, 8.0, 8.0])],
        "poly_id int, xs array<double>, ys array<double>",
    )
    rows = pip_join(pts, polys, cell_deg=1.0).collect()
    assert sorted((r.point_id, r.poly_id) for r in rows) == [(1, 10), (2, 10)]


@pytest.mark.parametrize(
    "build, kernel",
    [
        ("broadcast", "fast"),
        ("shipped", "fast"),
        ("salted", "fast"),
        ("broadcast", "gait"),
        ("shipped", "gait"),
    ],
)
def test_pip_builds_agree(spark, monkeypatch, build, kernel):
    """Every build of the PIP join returns the default pip_join's rows."""
    import sys

    from geospatial_analysis_integrity_tool_spark.operators import pip
    from geospatial_analysis_integrity_tool_spark.sources.synthetic import (
        register_geo_views,
    )

    register_geo_views(spark, SF_SMALL)
    points = spark.table("geo_points")
    zones = spark.table("geo_zones").select(
        F.col("zone_id"),
        F.array("x1", "x2", "x3").alias("xs"),
        F.array("y1", "y2", "y3").alias("ys"),
    )
    ids = {"point_id": "point_id", "poly_id": "zone_id"}

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    want = rows(pip.pip_join(points, zones, **ids))
    if build == "salted":
        got = pip.pip_join_salted(points, zones, target_rows_per_task=5, **ids)
    else:
        limit = 0 if build == "shipped" else sys.maxsize
        monkeypatch.setattr(pip, "BROADCAST_MAX_VERTEX_BYTES", limit)
        rings = pip._cover(zones, "zone_id", "xs", "ys", pip.DEFAULT_CELL_DEG)[1]
        assert (rings is None) == (build == "shipped")
        got = pip.pip_join(points, zones, kernel=kernel, **ids)
    assert want and rows(got) == want


def test_proximity_planted(spark):
    """knn_prox_01 analogue: 1.5 m apart under 5 m tolerance."""
    from geospatial_analysis_integrity_tool_spark.operators.proximity import (
        point_proximity_pairs,
    )

    # ~1.5 m east at lat 40 is 1.5/ (111319.5*cos40) deg ~ 1.759e-5
    pts = spark.createDataFrame(
        [(1, 10.0, 40.0), (2, 10.0000176, 40.0), (3, 11.0, 40.0)],
        "site_id int, lon double, lat double",
    )
    rows = point_proximity_pairs(pts, tol_m=5.0, max_abs_lat_deg=41.0).collect()
    assert [(r.id_a, r.id_b) for r in rows] == [(1, 2)]
    assert 1000 < rows[0].dist_mm < 2000


def test_ann_topk_self_excluded_and_ranked(spark):
    from geospatial_analysis_integrity_tool_spark.operators.ann import cosine_topk

    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.9, 0.1]),
            (2, [0.0, 1.0]),
            (3, [1.0, 0.01]),
        ],
        "vec_id long, embedding array<double>",
    )
    q = emb.filter(F.col("vec_id") == 0)
    rows = cosine_topk(emb, q, k=2).collect()
    by_rank = {r.rank: r.neighbor_id for r in rows}
    assert by_rank == {1: 3, 2: 1}  # closest first, self excluded


def test_entry_smoke(spark):
    import __spark_entry__ as m

    df = m.entry(spark)
    assert df.count() > 0
    assert df.columns == ["point_id", "zone_id", "fcode"]


def test_parallelism_invariance_flagship(spark):
    """Partition-count invariance (SURVEY.md §5.2 item 3): same conditions
    regardless of shuffle partitioning."""
    import __spark_entry__ as m

    a = {tuple(r) for r in m.queries()["geo_pip"](spark, SF_SMALL).collect()}
    b = {
        tuple(r)
        for r in m.queries()["geo_pip"](spark, SF_SMALL)
        .repartition(13)
        .collect()
    }
    assert a == b and len(a) > 0
