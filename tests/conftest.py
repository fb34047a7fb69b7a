from __future__ import annotations

import itertools
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

FIXTURE_DIR = "/root/repo/data/img_sf0.02"


@pytest.fixture(scope="session")
def spark():
    from mapsplit_spark.session import get_spark

    s = get_spark("mapsplit-tests", cores=8, shuffle_partitions=16)
    yield s
    s.stop()


GUARDED_CONF = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")


@pytest.fixture(autouse=True)
def shared_conf_unchanged(request):
    """Fail the test that leaves the shared session's shuffle or AQE
    settings different from the values it started with: later tests
    (job counts, plan shapes) would run under that test's settings."""
    if "spark" not in request.fixturenames:
        yield
        return
    spark = request.getfixturevalue("spark")
    before = {k: spark.conf.get(k) for k in GUARDED_CONF}
    yield
    after = {k: spark.conf.get(k) for k in GUARDED_CONF}
    assert after == before, f"test changed the shared session's conf: {before} -> {after}"


@pytest.fixture(scope="session")
def job_count(spark):
    """→ fn(action) returning the number of Spark jobs ``action()`` ran,
    counted under a job group of its own."""
    sc = spark.sparkContext
    groups = itertools.count()

    def count(action) -> int:
        group = f"job-count-{next(groups)}"
        sc.setJobGroup(group, group)
        try:
            action()
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description",
                        "spark.job.interruptOnCancel"):
                sc.setLocalProperty(key, None)
        # job starts reach the status store through the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count


@pytest.fixture(scope="session")
def images_dir():
    """Small deterministic images fixture (200 rows, with payload bytes)."""
    from mapsplit_spark.datagen import write_fixture_dir

    if not os.path.exists(os.path.join(FIXTURE_DIR, "images.parquet")):
        write_fixture_dir(FIXTURE_DIR, sf=0.02, with_bytes=True)
    return FIXTURE_DIR


@pytest.fixture(scope="session")
def derived_pairs(spark):
    """(element_id, tile_x, tile_y) at z13, border 0.1, for 2,000 points
    at the JVM-derived locations of ids 0..1999 (no input files)."""
    from pyspark.sql import functions as F

    from mapsplit_spark import sqlgen
    from mapsplit_spark.operators.assign import assign_and_expand

    pts = spark.range(2000).select(
        F.col("id").alias("event_id"),
        F.expr(sqlgen.derived_lon_sql("id")).alias("lon"),
        F.expr(sqlgen.derived_lat_sql("id")).alias("lat"),
    )
    return assign_and_expand(pts, "event_id", "lon", "lat", 13, 0.1)
