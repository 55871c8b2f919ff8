"""Multimodal stub plumbing + structured-streaming point lookup tests."""
import json
import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from areacity_query_geometry_spark import docs as docsmod
from areacity_query_geometry_spark.functions import filters, media
from areacity_query_geometry_spark.streaming import point_stream


class TestMediaPipeline:
    def test_decode_media_fake_features(self, spark):
        d = docsmod.generate_docs(spark, n_docs=100, seed=3)
        feats = media.decode_media(d, fake=True)
        rows = feats.collect()
        assert len(rows) > 20
        r = rows[0]
        assert len(r.feature) == media.FEATURE_DIM
        assert all(0.0 <= v <= 1.0 for v in r.feature)
        assert r.kind in ("image", "audio")
        # deterministic across runs
        rows2 = media.decode_media(d, fake=True).collect()
        assert sorted(map(str, rows)) == sorted(map(str, rows2))

    def test_decode_media_rows_match_python_explode(self, spark):
        """(doc_id, span_idx, kind, media_ref) equal a pure-Python walk
        of the collected spans: every image/audio/video span at its
        ORIGINAL position, across null / empty arrays and null
        elements."""
        edge = spark.createDataFrame([
            ("e-null", None),
            ("e-empty", []),
            ("e-mixed", [("text", "a", None, 0), None,
                         ("geo", "geo:1,2", None, 2),
                         ("video", None, "blob://v", 3),
                         ("image", None, "blob://i", 4)]),
        ], docsmod.DOCS_SCHEMA)
        d = docsmod.generate_docs(spark, n_docs=100, seed=3).unionByName(edge)
        want = sorted(
            (r.doc_id, i, s.kind, s.media_ref)
            for r in d.collect() for i, s in enumerate(r.spans or [])
            if s is not None and s.kind in ("image", "audio", "video"))
        assert ("e-mixed", 3, "video", "blob://v") in want
        feats = media.decode_media(d, fake=True)
        got = sorted(map(tuple, feats.select(
            "doc_id", "span_idx", "kind", "media_ref").collect()))
        assert got == want

    def test_decode_media_null_ref(self, spark):
        """A media span whose media_ref is null gives a null feature
        and a null n_bytes instead of failing the job."""
        d = spark.createDataFrame([("n-null", [("image", None, None, 0)])],
                                  docsmod.DOCS_SCHEMA)
        rows = media.decode_media(d, fake=True).collect()
        assert [(r.doc_id, r.span_idx, r.kind, r.media_ref, r.feature,
                 r.n_bytes) for r in rows] == [
            ("n-null", 0, "image", None, None, None)]

    def test_schema(self, spark):
        d = docsmod.generate_docs(spark, n_docs=10, seed=3)
        feats = media.decode_media(d, fake=True)
        assert feats.schema == media.MEDIA_FEATURE_SCHEMA


class TestFilters:
    def test_ext_path_wildcards(self, province_engine):
        assert filters.ext_path_where("*湖北*") == "ext_path LIKE '%湖北%'"
        assert filters.ext_path_where("湖北*") == "ext_path LIKE '湖北%'"
        assert filters.ext_path_where("*湖北") == "ext_path LIKE '%湖北'"
        assert filters.ext_path_where("湖北省") == "ext_path = '湖北省'"
        got = province_engine.read_wkt_features(
            where=filters.ext_path_where("*湖北*"), with_wkt=False).collect()
        assert [r.name for r in got] == ["湖北省"]

    def test_id_where_rejects_injection(self):
        with pytest.raises(ValueError):
            filters.id_where("1 OR 1=1")


class TestMediaStages:
    def test_resize_and_frame_sample(self, spark):
        from areacity_query_geometry_spark import docs as docsmod
        from areacity_query_geometry_spark.functions import media

        docs = docsmod.generate_docs(spark, n_docs=60, seed=7)
        decoded = media.decode_media(docs, fake=True)
        thumbs = media.resize_images(decoded, max_side=4).collect()
        assert thumbs  # the generator always produces image spans
        for t in thumbs:
            assert 1 <= t.thumb.w <= 4 and 1 <= t.thumb.h <= 4
            assert max(t.thumb.w, t.thumb.h) == 4
            assert len(t.thumb.pixels) == t.thumb.w * t.thumb.h
            # aspect preserved within integer truncation
            assert (t.width >= t.height) == (t.thumb.w >= t.thumb.h)
        frames = media.sample_frames(decoded, every_n=50).collect()
        assert frames
        for f in frames:
            assert f.frame_no % 50 == 0
            assert len(f.frame_feature) == media.FEATURE_DIM
        # determinism: same input → same output
        again = media.sample_frames(media.decode_media(docs, fake=True),
                                    every_n=50).collect()
        assert sorted(map(str, frames)) == sorted(map(str, again))

    def test_null_ref_spans_pass_resize_and_frame_sample(self):
        """An image and a video span with a null media_ref, decoded and
        then resized and frame-sampled in one `local[1]` task: the image
        keeps its row with a null width, height and thumb, and the
        video gives no frame, instead of failing the job."""
        proc = subprocess.run(
            [sys.executable, "-c", NULL_REF_CHILD.format(root=ROOT)],
            env=dict(os.environ, PYTHONPATH=ROOT,
                     SPARK_LOCAL_IP=os.environ.get("SPARK_LOCAL_IP",
                                                   "127.0.0.1")),
            capture_output=True, text=True, timeout=600)
        assert proc.returncode == 0, proc.stderr[-3000:]
        got = json.loads(proc.stdout.strip().splitlines()[-1])
        assert got == {"thumbs": [["n-img", 0, None, None, None, None]],
                       "frames": []}


ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

NULL_REF_CHILD = r"""
import json, sys
sys.path.insert(0, {root!r})
from pyspark.sql import SparkSession
from areacity_query_geometry_spark import docs as docsmod
from areacity_query_geometry_spark.functions import media

spark = (SparkSession.builder.master("local[1]")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
d = spark.createDataFrame([("n-img", [("image", None, None, 0)]),
                           ("n-vid", [("video", None, None, 0)])],
                          docsmod.DOCS_SCHEMA)
dec = media.decode_media(d, fake=True)
thumbs = [[r.doc_id, r.span_idx, r.media_ref, r.width, r.height, r.thumb]
          for r in media.resize_images(dec).collect()]
frames = [list(r) for r in media.sample_frames(dec).collect()]
print(json.dumps({{"thumbs": thumbs, "frames": frames}}))
spark.stop()
"""


class TestStreaming:
    def test_stream_matches_batch(self, spark, province_engine, tmp_path):
        batch_pts = spark.range(200).select(
            F.col("id").alias("point_id"),
            (73.0 + (F.col("id") * 37 % 62000) / 1000.0).alias("lng"),
            (18.0 + (F.col("id") * 101 % 36000) / 1000.0).alias("lat"),
        )
        want = sorted(
            (r.point_id, r.region_id)
            for r in province_engine.query_points(batch_pts, with_props=False).collect()
        )

        src = str(tmp_path / "pts")
        batch_pts.repartition(3).write.parquet(src)
        stream = (
            spark.readStream.schema("point_id long, lng double, lat double")
            .parquet(src)
        )
        point_stream.run_to_memory(province_engine, stream, "stream_hits")
        got = sorted(
            (r.point_id, r.region_id)
            for r in spark.sql("SELECT * FROM stream_hits").collect()
        )
        assert got == want

    def test_windowed_counts_with_watermark_drop_late(self, spark, province_engine, tmp_path):
        """Watermark/late-data semantics end to end, driven as three
        sequential availableNow runs over one checkpoint (watermark
        state persists between runs — also exercising restart recovery):
        run A fills the 10:00-10:01 window (Beijing, 2 points); run B
        advances event time past the watermark so the window closes and
        emits count=2; run C replays a LATE row for that window
        (behind the restored watermark → dropped, nothing emitted)."""
        import datetime as dt
        import os

        bj = (116.407387, 39.904179)  # 北京市 golden
        src = str(tmp_path / "winpts")
        ckpt = str(tmp_path / "ckpt")
        os.makedirs(src)

        def write_file(name, rows):
            df = spark.createDataFrame(
                rows, "point_id long, ts timestamp, lng double, lat double")
            stage = str(tmp_path / ("stage_" + name))
            df.coalesce(1).write.mode("overwrite").parquet(stage)
            part = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
            os.rename(os.path.join(stage, part),
                      os.path.join(src, name + ".parquet"))

        def ts(minute, second):
            return dt.datetime(2026, 1, 1, 10, minute, second)

        sink = str(tmp_path / "sink")

        def run():
            stream = (
                spark.readStream
                .schema("point_id long, ts timestamp, lng double, lat double")
                .parquet(src)
            )
            out = point_stream.stream_region_window_counts(
                province_engine, stream, window_dur="1 minute",
                watermark_delay="2 minutes")
            q = (out.select("win.start", "region_id", "count")
                 .writeStream.format("parquet").option("path", sink)
                 .outputMode("append").option("checkpointLocation", ckpt)
                 .trigger(availableNow=True).start())
            q.awaitTermination()
            return sorted(
                (r.start, r["count"]) for r in spark.read.parquet(sink).collect())

        write_file("a", [(1, ts(0, 10), *bj), (2, ts(0, 20), *bj)])
        assert run() == []  # watermark 9:58:20 — window still open

        write_file("b", [(3, ts(5, 0), *bj)])  # watermark → 10:03
        got_b = run()  # 10:00 window closes and emits count=2
        assert got_b == [(ts(0, 0), 2)]

        # late row for the already-closed window (10:00:30 < wm 10:03):
        # dropped; 10:06 pusher's own window stays open → nothing new emits
        write_file("c", [(4, ts(0, 30), *bj), (5, ts(6, 0), *bj)])
        assert run() == [(ts(0, 0), 2)]

    def test_stateful_stream_dedup_across_batches(self, spark, tmp_path):
        """applyInPandasWithState custom operator: duplicates are dropped
        both within a batch and across micro-batches (state survives via
        the checkpoint across sequential availableNow runs)."""
        import os

        from areacity_query_geometry_spark.streaming import dedup_stream

        src = str(tmp_path / "docs")
        ckpt = str(tmp_path / "ck")
        sink = str(tmp_path / "out")
        os.makedirs(src)

        def write_file(name, rows):
            df = spark.createDataFrame(rows, "doc_id string, fp string")
            stage = str(tmp_path / ("s_" + name))
            df.coalesce(1).write.mode("overwrite").parquet(stage)
            part = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
            os.rename(os.path.join(stage, part),
                      os.path.join(src, name + ".parquet"))

        def run():
            stream = spark.readStream.schema("doc_id string, fp string").parquet(src)
            out = dedup_stream.stream_dedup_exact(stream)
            q = (out.writeStream.format("parquet").option("path", sink)
                 .outputMode("append").option("checkpointLocation", ckpt)
                 .trigger(availableNow=True).start())
            q.awaitTermination()
            return sorted((r.fp, r.doc_id)
                          for r in spark.read.parquet(sink).collect())

        # batch 1: in-batch duplicate of X → min doc id wins
        write_file("a", [("d2", "X"), ("d1", "X"), ("d3", "Y")])
        assert run() == [("X", "d1"), ("Y", "d3")]

        # batch 2: cross-batch duplicate of X dropped, new Z passes
        write_file("b", [("d9", "X"), ("d4", "Z")])
        assert run() == [("X", "d1"), ("Y", "d3"), ("Z", "d4")]

    def test_rejects_batch_df(self, spark, province_engine):
        batch = spark.range(3).select(
            F.col("id").alias("point_id"),
            F.lit(100.0).alias("lng"), F.lit(30.0).alias("lat"))
        with pytest.raises(ValueError):
            point_stream.stream_point_lookup(province_engine, batch)
