"""Docs-table (input_hint) tests: span-sequence preservation through
the geo join, golden coordinates resolving to the right provinces,
and deterministic generation."""
import pytest
from pyspark.sql import functions as F

from areacity_query_geometry_spark import docs as docsmod

from conftest import PROVINCE_FIXTURE, reference_file


@pytest.fixture(scope="module")
def docs_df(spark):
    return docsmod.generate_docs(spark, n_docs=300, seed=42).cache()


class TestGenerator:
    def test_deterministic(self, spark):
        a = docsmod.generate_docs(spark, n_docs=50, seed=7).collect()
        b = docsmod.generate_docs(spark, n_docs=50, seed=7).collect()
        assert a == b

    def test_schema_shape(self, docs_df):
        assert docs_df.schema == docsmod.DOCS_SCHEMA
        row = docs_df.first()
        assert row.spans[0].offset == 0
        kinds = docs_df.select(F.explode("spans").alias("s")) \
                       .select("s.kind").distinct().collect()
        assert {r.kind for r in kinds} == {"text", "image", "audio", "geo"}

    def test_skew_clusters_present(self, docs_df):
        pts = docsmod.geo_span_points(docs_df)
        hot = pts.filter(
            (F.abs(F.col("lng") - 116.40) < 0.03) & (F.abs(F.col("lat") - 39.90) < 0.03)
        ).count()
        assert hot > 5  # dense-city cluster exists

    def test_geo_span_points_matches_posexplode(self, docs_df):
        """geo_span_points pre-filters inside the array (the generator
        emits only geo spans); rows, values, and span_idx semantics
        must equal the naive posexplode-then-filter formulation —
        span_idx stays the ORIGINAL array position."""
        naive = (
            docs_df.select(
                "doc_id", F.posexplode("spans").alias("span_idx", "span"))
            .filter(F.col("span.kind") == "geo")
            .select(
                "doc_id", "span_idx",
                F.split(F.regexp_replace("span.text", "^geo:", ""), ",")[0]
                    .cast("double").alias("lng"),
                F.split(F.regexp_replace("span.text", "^geo:", ""), ",")[1]
                    .cast("double").alias("lat")))
        got = docsmod.geo_span_points(docs_df)
        assert got.schema == naive.schema
        assert sorted(map(tuple, got.collect())) == \
            sorted(map(tuple, naive.collect()))


class TestGeoJoin:
    def test_span_sequence_preserved(self, province_engine, docs_df):
        """THE per-row invariant (input_hint): (kind, text, media_ref,
        order) of every document's spans must survive the join."""
        joined = docsmod.join_docs_to_regions(province_engine, docs_df)
        before = {r.doc_id: r.spans for r in docs_df.collect()}
        after = {r.doc_id: r.spans for r in joined.collect()}
        assert set(before) == set(after)
        for did, spans in before.items():
            assert after[did] == spans, f"span sequence mutated for {did}"

    def test_row_count_preserved(self, province_engine, docs_df):
        joined = docsmod.join_docs_to_regions(province_engine, docs_df)
        assert joined.count() == docs_df.count()

    def test_golden_doc_region(self, province_engine, spark):
        d = spark.createDataFrame(
            [("doc-golden", [("geo", "geo:114.044346,22.691963", None, 0),
                             ("text", "hello", None, 1)])],
            docsmod.DOCS_SCHEMA,
        )
        joined = docsmod.join_docs_to_regions(province_engine, d).collect()
        assert len(joined) == 1
        regions = joined[0].regions
        assert len(regions) == 1
        assert regions[0].name == "广东省"
        assert regions[0].span_idx == 0

    def test_doc_without_geo_spans_kept(self, province_engine, spark):
        d = spark.createDataFrame(
            [("doc-nogeo", [("text", "plain", None, 0)])], docsmod.DOCS_SCHEMA)
        joined = docsmod.join_docs_to_regions(province_engine, d).collect()
        assert len(joined) == 1
        assert joined[0].regions is None

    def test_match_correctness_vs_kernel(self, province_engine, docs_df):
        """Engine hits for doc geo spans == direct kernel PIP oracle."""
        import numpy as np

        from areacity_query_geometry_spark.geom import core, geojson, predicates

        pts = docsmod.geo_span_points(docs_df).collect()
        matches = province_engine.query_points(
            docsmod.geo_span_points(docs_df), with_props=True,
            id_cols=("doc_id", "span_idx"),
        ).select("doc_id", "span_idx", "name").collect()
        got = {}
        for r in matches:
            got.setdefault((r.doc_id, r.span_idx), set()).add(r.name)

        feats = [
            r for line in open(
                reference_file(PROVINCE_FIXTURE),
                encoding="utf-8")
            if (r := geojson.parse_feature_line(line))
        ]
        px = np.array([p.lng for p in pts])
        py = np.array([p.lat for p in pts])
        want = {}
        for prop, g in feats:
            if core.is_empty(g):
                continue
            name = geojson.extract_str(prop, "name")
            hit = predicates.points_intersect_rings(px, py, core.all_rings(g))
            for i in np.nonzero(hit)[0].tolist():
                want.setdefault((pts[i].doc_id, pts[i].span_idx), set()).add(name)
        assert got == want
