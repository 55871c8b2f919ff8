"""Docs-table (input_hint) tests: span-sequence preservation through
the geo join, golden coordinates resolving to the right provinces,
and deterministic generation."""
import contextlib
import io
import re

import pytest
from pyspark.sql import functions as F

from areacity_query_geometry_spark import docs as docsmod
from areacity_query_geometry_spark.functions import media

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

    def test_geo_span_points_matches_python_parse(self, spark, docs_df):
        """Rows, values and the ORIGINAL span_idx equal a pure-Python
        parse of the collected spans, on the generated docs plus edge
        cases: null / empty arrays, null elements, geo spans after
        non-geo ones, text without the prefix, extra or padded parts,
        and malformed text, which gives null coordinates under the
        session's ANSI default instead of failing the job."""
        edge = spark.createDataFrame([
            ("e-null", None),
            ("e-empty", []),
            ("e-mixed", [("text", "a", None, 0), None,
                         ("image", None, "blob://i", 2),
                         ("geo", "geo:116.4,39.9", None, 3),
                         ("geo", None, None, 4)]),
            ("e-forms", [("geo", "116.4,39.9", None, 0),
                         ("geo", "geo:1,2,3", None, 1),
                         ("geo", "geo: 116.4 , 39.9", None, 2)]),
            ("e-bad", [("geo", "geo:116.4", None, 0),
                       ("geo", "geo:abc,def", None, 1),
                       ("geo", "geo:", None, 2)]),
        ], docsmod.DOCS_SCHEMA)
        want = {
            ("e-mixed", 3, 116.4, 39.9), ("e-mixed", 4, None, None),
            ("e-forms", 0, 116.4, 39.9), ("e-forms", 1, 1.0, 2.0),
            ("e-forms", 2, 116.4, 39.9),
            ("e-bad", 0, 116.4, None), ("e-bad", 1, None, None),
            ("e-bad", 2, None, None),
        }
        assert set(_python_geo_points(edge.collect())) == want
        docs = docs_df.unionByName(edge)
        got = docsmod.geo_span_points(docs)
        assert [(f.name, f.dataType.simpleString()) for f in got.schema] == [
            ("doc_id", "string"), ("span_idx", "int"),
            ("lng", "double"), ("lat", "double")]
        assert sorted(map(tuple, got.collect()), key=repr) == \
            sorted(_python_geo_points(docs.collect()), key=repr)

    def test_span_explodes_are_codegen(self, docs_df):
        """The geo and media span explodes compile into a whole-stage
        codegen stage: no higher-order function (an interpreted
        CodegenFallback) in either plan."""
        for df in (docsmod.geo_span_points(docs_df),
                   media.decode_media(docs_df, fake=True)):
            plan = _plan(df)
            assert re.search(r"\*\(\d+\) Generate posexplode\(", plan)
            assert "lambdafunction" not in plan


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()
    return buf.getvalue()


def _python_geo_points(rows):
    """(doc_id, span_idx, lng, lat) for every geo span: strip a leading
    "geo:", split on ",", and read parts 0 and 1 as decimals, None where
    a part is missing or not a number."""
    def num(parts, i):
        try:
            return float(parts[i].strip())
        except (IndexError, ValueError):
            return None

    out = []
    for r in rows:
        for i, s in enumerate(r.spans or []):
            if s is None or s.kind != "geo":
                continue
            if s.text is None:
                out.append((r.doc_id, i, None, None))
                continue
            parts = re.sub("^geo:", "", s.text).split(",")
            out.append((r.doc_id, i, num(parts, 0), num(parts, 1)))
    return out


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

    def test_malformed_geo_text_does_not_abort(self, dense_engine, spark):
        """Malformed geo spans give no hits and leave the job running;
        the well-formed span of the same document still resolves."""
        d = spark.createDataFrame(
            [("doc-bad", [("geo", "geo:116.4", None, 0),
                          ("geo", "geo:abc,def", None, 1),
                          ("geo", "geo:116.4,39.9", None, 2)])],
            docsmod.DOCS_SCHEMA)
        joined = docsmod.join_docs_to_regions(dense_engine, d).collect()
        assert len(joined) == 1
        assert joined[0].regions
        assert {r.span_idx for r in joined[0].regions} == {2}

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
