import os
import sys

import pytest

os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
# glibc malloc tunables BEFORE the JVM starts (workers inherit): large
# numpy temporaries otherwise mmap/munmap per call and the page-fault
# churn serializes concurrent Arrow kernels (hostload.MALLOC_TUNING)
os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "1073741824")
os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "1073741824")


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder
        .master("local[4]")
        .appName("aqgs-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


PROVINCE_FIXTURE = "/root/reference/仅供测试-全国省级GeoJSON数据-大幅简化粗略版.json"
CONTINENT_FIXTURE = "/root/reference/仅供测试-世界七大洲GeoJSON数据-大幅简化粗略版.json"


def reference_file(path: str) -> str:
    """The one resolver for files from the reference distribution
    (`PROVINCE_FIXTURE`, `CONTINENT_FIXTURE`, its Java sources): returns
    `path`, or skips the calling test or fixture, naming the path,
    when the file does not exist. Any other failure still fails."""
    if not os.path.exists(path):
        pytest.skip(f"missing {path}")
    return path


DENSE_BASE_RES = 9


@pytest.fixture(scope="session")
def dense_geojson(tmp_path_factory):
    """A small generated `fixtures_dense` boundary set (no external
    files): an 8 x 8 district lattice over the full extent, 2 x 2
    districts per city and 4 x 4 per province (64 + 16 + 4 features)."""
    from areacity_query_geometry_spark import fixtures_dense as fd

    path = str(tmp_path_factory.mktemp("dense") / "dense.json")
    fd.generate(path, nx=8, ny=8, city_bx=2, city_by=2,
                prov_bx=4, prov_by=4, pts_per_edge=6)
    return path


@pytest.fixture(scope="session")
def dense_engine(spark, dense_geojson):
    """One engine over `dense_geojson` at base_res 9, shared by the
    test files. A test that switches an index off on it restores it;
    one that needs other settings builds a variant over its tables."""
    from areacity_query_geometry_spark.engine import SpatialEngine

    return SpatialEngine.from_geojson(spark, dense_geojson,
                                      base_res=DENSE_BASE_RES)


@pytest.fixture(scope="session")
def dense_engines_6_8(spark, dense_geojson):
    """Engines over `dense_geojson` at base_res 6 and 8, for the tests
    that check an answer does not depend on the tile grid. Held for the
    session, so their checkpointed tables are not cleaned up while a
    later test counts persisted RDDs."""
    from areacity_query_geometry_spark.engine import SpatialEngine

    return tuple(SpatialEngine.from_geojson(spark, dense_geojson,
                                            base_res=r) for r in (6, 8))


@pytest.fixture(scope="session")
def province_engine(spark):
    from areacity_query_geometry_spark.engine import SpatialEngine

    return SpatialEngine.from_geojson(
        spark, reference_file(PROVINCE_FIXTURE), base_res=10)
