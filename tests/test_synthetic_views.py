"""Per-session memo of the input views (sources/synthetic.py).

Registration reads each parquet table once per live session and ``sf_dir``;
every later call re-points the 19 temp views at the memoized DataFrames
without starting a Spark job, and a rewritten table is read again.
"""

from __future__ import annotations

import gc
import os
import shutil
import threading
import time
import weakref

import pandas as pd

from conftest import SF_SMALL
from geospatial_analysis_integrity_tool_spark.sources.synthetic import (
    GEO_VIEWS,
    TESTDATA_TABLES,
    register_geo_views,
    register_testdata_views,
)

VIEWS = TESTDATA_TABLES + tuple(GEO_VIEWS)


def _rows(spark, name):
    return sorted(spark.table(name).collect())


def _jobs_in(spark, group, fn):
    """Spark jobs ``fn`` starts, counted over a job group.

    The status tracker learns of jobs asynchronously and in order, so a
    marker job runs next in a second group and is awaited: once it shows,
    every job of the first group does too.
    """
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    try:
        sc.setJobGroup(group, group)
        fn()
        sc.setJobGroup(group + "_marker", group)
        spark.range(1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    deadline = time.time() + 30
    while not tracker.getJobIdsForGroup(group + "_marker"):
        assert time.time() < deadline, "marker job never reported"
        time.sleep(0.1)
    return len(tracker.getJobIdsForGroup(group))


def _copy_sf(tmp_path):
    # copyfile, not copytree: the source files may be read-only
    d = tmp_path / "sf"
    d.mkdir()
    for f in os.listdir(SF_SMALL):
        shutil.copyfile(os.path.join(SF_SMALL, f), d / f)
    return str(d)


def test_second_registration_starts_no_job(spark):
    register_geo_views(spark, SF_SMALL)
    before = {v: _rows(spark, v) for v in VIEWS}
    jobs = _jobs_in(
        spark, "test_synthetic_views", lambda: register_geo_views(spark, SF_SMALL)
    )
    assert jobs == 0
    assert {v: _rows(spark, v) for v in VIEWS} == before


def test_rewritten_table_is_read_again(spark, tmp_path):
    sf = _copy_sf(tmp_path)
    register_geo_views(spark, sf)
    assert spark.table("nation").count() == 25
    assert spark.table("geo_zones").count() == 25

    path = os.path.join(sf, "nation.parquet")
    pd.read_parquet(path).head(5).to_parquet(path)
    register_geo_views(spark, sf)
    assert spark.table("nation").count() == 5
    assert sorted(r.zone_id for r in spark.table("geo_zones").collect()) == list(range(5))

    # rewritten again, now as a directory of part files
    nation = spark.createDataFrame(pd.read_parquet(path).head(3))
    os.remove(path)
    nation.write.parquet(path)
    register_geo_views(spark, sf)
    assert spark.table("nation").count() == 3
    assert spark.table("geo_zones").count() == 3


def test_replaced_view_is_restored(spark):
    register_geo_views(spark, SF_SMALL)
    want = _rows(spark, "geo_vareas")
    spark.createDataFrame(
        [(1, 0, 0, 0.0, 0.0)], "area_id long, ring long, vidx long, x double, y double"
    ).createOrReplaceTempView("geo_vareas")
    register_geo_views(spark, SF_SMALL)
    assert _rows(spark, "geo_vareas") == want


def test_new_session_gets_its_own_views(spark):
    register_geo_views(spark, SF_SMALL)
    other = spark.newSession()
    assert not other.catalog.tableExists("geo_points")
    register_geo_views(other, SF_SMALL)
    for v in VIEWS:
        assert other.table(v).count() == spark.table(v).count(), v

    # the memo does not keep a dropped session alive (pyspark itself pins
    # the most recently built session via RDD.toDF; building one more
    # releases it)
    ref = weakref.ref(other)
    del other
    spark.newSession()
    gc.collect()
    assert ref() is None


def test_reread_during_geometry_build_is_not_lost(spark, tmp_path, monkeypatch):
    """A table re-read by one thread while another builds the geometry views
    over the previous read: the stale build must not land in the memo."""
    from geospatial_analysis_integrity_tool_spark.sources import synthetic

    sf = _copy_sf(tmp_path)
    register_geo_views(spark, sf)
    path = os.path.join(sf, "nation.parquet")
    nation = pd.read_parquet(path)
    building = threading.Event()

    class SlowViews(dict):
        # every geometry view is built over the first read; the build then
        # stalls before it is stored
        def items(self):
            yield from super().items()
            building.set()
            time.sleep(2)

    monkeypatch.setattr(synthetic, "GEO_VIEWS", SlowViews(GEO_VIEWS))
    nation.head(5).to_parquet(path)
    stalled = threading.Thread(target=register_geo_views, args=(spark, sf))
    stalled.start()
    assert building.wait(timeout=60)
    # new file names, so a DataFrame over the first read cannot see them
    os.remove(path)
    os.mkdir(path)
    nation.head(3).to_parquet(os.path.join(path, "part-0.parquet"))
    register_testdata_views(spark, sf)
    stalled.join(timeout=60)
    assert not stalled.is_alive()

    register_geo_views(spark, sf)
    assert spark.table("nation").count() == 3
    assert spark.table("geo_zones").count() == 3
