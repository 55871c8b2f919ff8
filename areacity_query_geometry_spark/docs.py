"""The interleaved text+media docs table (BASELINE.json input_hint):

    docs(doc_id: string,
         spans: array<struct<kind: string, text: string,
                             media_ref: string, offset: int>>)

plus (a) a deterministic synthetic generator (FIXTURES.md §2 — golden
points, lattice coverage, and skew clusters concentrating many docs on
a few dense "city" cells to exercise salting), and (b) the geo join
that annotates each document with the admin regions its geo spans fall
in while preserving the spans column BIT-FOR-BIT (the per-row
span-sequence-equality invariant: the original `spans` column is never
rewritten — region hits are joined back on doc_id).
"""
from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    ArrayType, IntegerType, StringType, StructField, StructType,
)

SPAN_TYPE = StructType([
    StructField("kind", StringType()),
    StructField("text", StringType()),
    StructField("media_ref", StringType()),
    StructField("offset", IntegerType()),
])
DOCS_SCHEMA = StructType([
    StructField("doc_id", StringType()),
    StructField("spans", ArrayType(SPAN_TYPE)),
])

# reference golden coordinates (Test.java:306-338, 454-476)
GOLDEN_POINTS = [
    (114.044346, 22.691963),
    (121.993491, 29.524288),
    (116.407387, 39.904179),
    (117.286491, 30.450399),
    (116.055588, 39.709385),
]
# dense "city" hot spots for skew clustering
HOT_SPOTS = [(116.40, 39.90), (121.47, 31.23), (113.26, 23.13)]

_WORDS = ("river", "mountain", "market", "station", "temple", "harbor",
          "museum", "garden", "bridge", "tower")


def generate_docs(spark: SparkSession, n_docs: int = 1000,
                  seed: int = 42, skew_frac: float = 0.3) -> DataFrame:
    """Deterministic docs table. ~skew_frac of all docs carry geo spans
    clustered within ±0.02° of the HOT_SPOTS (dense-city skew); the
    rest draw from a lattice over China plus the reference goldens."""
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n_docs):
        n_spans = 1 + int(rng.integers(0, 12))
        spans = []
        offset = 0
        for s in range(n_spans):
            kind_roll = rng.random()
            if kind_roll < 0.45:
                kind = "text"
            elif kind_roll < 0.6:
                kind = "image"
            elif kind_roll < 0.7:
                kind = "audio"
            else:
                kind = "geo"
            if kind == "text":
                words = rng.choice(_WORDS, size=int(rng.integers(3, 10)))
                span = (kind, " ".join(words.tolist()), None, offset)
            elif kind == "geo":
                r = rng.random()
                if r < skew_frac:
                    hx, hy = HOT_SPOTS[int(rng.integers(0, len(HOT_SPOTS)))]
                    lng = round(hx + float(rng.uniform(-0.02, 0.02)), 6)
                    lat = round(hy + float(rng.uniform(-0.02, 0.02)), 6)
                elif r < skew_frac + 0.1:
                    lng, lat = GOLDEN_POINTS[int(rng.integers(0, len(GOLDEN_POINTS)))]
                else:
                    lng = round(float(rng.uniform(73, 135)), 6)
                    lat = round(float(rng.uniform(18, 54)), 6)
                span = (kind, f"geo:{lng},{lat}", None, offset)
            else:
                ref = f"blob://{kind}/{i}/{s}"
                span = (kind, None, ref, offset)
            spans.append(span)
            offset += 1 + int(rng.integers(0, 100))
        rows.append((f"doc-{i:08d}", spans))
    return spark.createDataFrame(rows, DOCS_SCHEMA)


def geo_span_points(docs: DataFrame) -> DataFrame:
    """Explode geo spans → (doc_id, span_idx, lng, lat). span_idx is
    the span's original position in the array. Coordinate parse is
    pure Spark SQL (JVM-side).

    posexplode, then a filter on kind: neither is a higher-order
    function, so scan, explode, filter, parse and the downstream cell
    id compile into one whole-stage codegen stage (a transform/filter
    lambda is CodegenFallback and would be interpreted per span).
    Malformed text (no lat, non-numeric parts) gives null lng/lat
    rather than failing the job under ANSI mode; null coordinates hit
    no region."""
    geo = (docs.select("doc_id", F.posexplode("spans").alias("span_idx", "g"))
           .filter(F.col("g.kind") == "geo"))
    coords = F.split(F.regexp_replace("g.text", "^geo:", ""), ",")
    return geo.select(
        "doc_id", "span_idx",
        F.get(coords, 0).try_cast("double").alias("lng"),
        F.get(coords, 1).try_cast("double").alias("lat"),
    )


def join_docs_to_regions(engine, docs: DataFrame,
                         where: str | None = None) -> DataFrame:
    """Annotate each document with the regions its geo spans hit.

    Returns (doc_id, spans, regions) where `spans` is the ORIGINAL
    column untouched (span-sequence equality holds trivially — the
    invariant test still verifies it end to end) and `regions` is an
    array of structs (span_idx, region_id, id, deep, name) sorted by
    (span_idx, region_id) for determinism.
    """
    pts = geo_span_points(docs)
    matches = engine.query_points(
        pts, where=where, with_props=True, id_cols=("doc_id", "span_idx")
    )
    per_doc = matches.groupBy("doc_id").agg(
        F.sort_array(
            F.collect_list(F.struct("span_idx", "region_id", "id", "deep", "name"))
        ).alias("regions")
    )
    return docs.join(per_doc, "doc_id", "left")
