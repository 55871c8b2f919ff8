"""Reference-EXECUTION parity: the unmodified reference Java engine
(compiled in /tmp from /root/reference + its bundled JTS jar, driven as
a black-box oracle) answers the same probes as the Spark engine on the
reference's own committed province fixture, and every answer is diffed.

Full-scale sweep + report: `python tools/reference_parity.py`
(REFPARITY.md). These tests run reduced lattices of the same legs:

  QueryPoint               /root/reference/AreaCityQuery.java:87
  QueryPointWithTolerance  /root/reference/AreaCityQuery.java:102
  QueryGeometry            /root/reference/AreaCityQuery.java:179
"""
import os
import shutil
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))
import reference_parity as rp  # noqa: E402
from conftest import reference_file  # noqa: E402

pytestmark = pytest.mark.skipif(
    shutil.which("javac") is None or shutil.which("java") is None,
    reason="JDK not available")


@pytest.fixture(scope="module")
def oracle():
    for path in (rp.JTS, os.path.join(rp.REF_DIR, "AreaCityQuery.java"),
                 *(s["src"] for s in rp.SUITES.values())):
        reference_file(path)
    rp.compile_oracle()


PROV = rp.SUITES["province"]
WORLD = rp.SUITES["continents"]


class TestReferenceParity:
    def test_query_point_hit_sets_identical(self, oracle, spark,
                                            province_engine):
        pts = rp.lattice(1.0, PROV["bbox"])  # 2,470 probes, padded bbox
        ref, _ = rp.run_oracle(
            PROV["link"], "point",
            [f"{i}\t{lng!r}\t{lat!r}" for i, lng, lat in pts])
        mine = rp.spark_points(spark, province_engine, pts)
        assert mine == ref

    def test_tolerance_2500m_hit_sets_and_one_sided_distance(
            self, oracle, spark, province_engine):
        # since the r5 anisotropy-corrected second argmin candidate the
        # engines can disagree on a few distance TEXTS even at 2500 m
        # (ours strictly tighter — REFPARITY.md adjudicates every one
        # against brute-forced ground truth); hit-sets stay identical
        # and our distance never exceeds the reference's
        pts = rp.lattice(2.0, PROV["bbox"])
        ref, _ = rp.run_oracle(
            PROV["link"], "tolerance",
            [f"{i}\t{lng!r}\t{lat!r}" for i, lng, lat in pts], tol=2500)
        mine = rp.spark_tolerance(spark, province_engine, pts, 2500)
        leg = rp.compare("tol2500", ref, mine, dist_mode=True)
        assert leg["hitset_mismatches"] == 0
        assert leg["ours_larger_m"] <= 0.01
        assert leg["distance_text_mismatches"] <= max(2, len(pts) * 0.005)

    def test_tolerance_25km_hit_sets_and_one_sided_distance(
            self, oracle, spark, province_engine):
        # at 25 km the engines may disagree on distance TEXT (this
        # engine's finer tiling + scaled argmin yield a denser, more
        # accurate candidate set — see REFPARITY.md's ground-truth
        # adjudication) but never on the hit-set, and our distance must
        # never exceed the reference's: a larger value would mean a
        # candidate the reference found and we missed.
        pts = rp.lattice(1.0, PROV["bbox"])
        ref, _ = rp.run_oracle(
            PROV["link"], "tolerance",
            [f"{i}\t{lng!r}\t{lat!r}" for i, lng, lat in pts], tol=25000)
        mine = rp.spark_tolerance(spark, province_engine, pts, 25000)
        leg = rp.compare("tol25km", ref, mine, dist_mode=True)
        assert leg["hitset_mismatches"] == 0
        assert leg["ours_larger_m"] <= 0.01
        # the divergences are the documented minority, not the norm
        assert leg["distance_text_mismatches"] <= len(pts) * 0.02

    def test_query_geometry_hit_sets_identical(self, oracle, spark,
                                               province_engine):
        probes = rp.geom_probes(2.0, PROV["bbox"])  # rect/line/diamond
        ref, _ = rp.run_oracle(
            PROV["link"], "geometry",
            [f"{i}\t{wkt}" for i, wkt in probes])
        mine = rp.spark_geometry(spark, province_engine, probes)
        assert mine == ref

    def test_query_point_where_filtered_identical(self, oracle, spark,
                                                  province_engine):
        # the reference's Func<String,Boolean> prop filter vs this
        # engine's SQL where — identical even-id hit-sets (r5 leg)
        pts = rp.lattice(2.0, PROV["bbox"])
        ref, _ = rp.run_oracle(
            PROV["link"], "point",
            [f"{i}\t{lng!r}\t{lat!r}" for i, lng, lat in pts],
            where=True)
        mine = rp.spark_points(spark, province_engine, pts,
                               where=rp.WHERE_SQL)
        assert mine == ref

    def test_continents_point_hit_sets_identical(self, oracle, spark):
        from areacity_query_geometry_spark.engine import SpatialEngine

        eng = SpatialEngine.from_geojson(spark, WORLD["src"],
                                         base_res=WORLD["base_res"])
        pts = rp.lattice(8.0, WORLD["bbox"])  # ~1k probes, whole world
        ref, _ = rp.run_oracle(
            WORLD["link"], "point",
            [f"{i}\t{lng!r}\t{lat!r}" for i, lng, lat in pts])
        mine = rp.spark_points(spark, eng, pts)
        assert mine == ref
