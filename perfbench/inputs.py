"""Seeded, untimed input generation, cached per seed in the checkout.

Every input the engine sees is a file written here before the Spark
session starts: the boundary GeoJSON, the docs parquet, and the probe
and WKT parquet sets. The same seed gives byte-identical files.
"""
from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from areacity_query_geometry_spark import fixtures_dense
from areacity_query_geometry_spark.docs import GOLDEN_POINTS, HOT_SPOTS

# Boundary set: the fixtures_dense lattice (3,502 nested prov/city/
# district features). It has no seed, so it is generated once per
# checkout and shared.
BASE_RES = 10

# docs_q1: ~6.5 spans per doc, 30% of them geo (docs.generate_docs mix)
N_DOCS = 240_000
SKEW_FRAC = 0.3
# nearest_shapes: Q2 probes over the bbox widened by 1 degree, and a
# rect / line / diamond WKT mix for Q3
N_Q2 = 200_000
N_Q3 = 720
WIDEN_DEG = 1.0
# the small inputs that measure a round's fixed per-job overhead: the
# first rows of each full input (about 100 geo spans, 100 Q2 probes,
# 20 WKTs)
SMALL = {"docs": 50, "q2": 100, "q3": 20}
_WORDS = np.array(["river", "mountain", "market", "station", "temple",
                   "harbor", "museum", "garden", "bridge", "tower"])


def extent() -> tuple[float, float, float, float]:
    return (fixtures_dense.X0, fixtures_dense.Y0,
            fixtures_dense.X1, fixtures_dense.Y1)


def _docs(path: str, seed: int) -> dict:
    """Interleaved text/image/audio/geo docs in the manner of
    docs.generate_docs, vectorised."""
    rng = np.random.default_rng([seed, 2])
    x0, y0, x1, y1 = extent()
    n_spans = rng.integers(1, 13, size=N_DOCS)
    total = int(n_spans.sum())
    doc_of = np.repeat(np.arange(N_DOCS), n_spans)
    roll = rng.random(total)
    kind = np.where(roll < 0.45, "text", np.where(
        roll < 0.6, "image", np.where(roll < 0.7, "audio", "geo")))
    offset = np.cumsum(1 + rng.integers(0, 100, size=total))
    starts = np.concatenate([[0], np.cumsum(n_spans)[:-1]])
    offset = (offset - np.repeat(offset[starts], n_spans)).astype(np.int32)
    text = np.full(total, None, dtype=object)
    media = np.full(total, None, dtype=object)

    is_geo = kind == "geo"
    g = int(is_geo.sum())
    r = rng.random(g)
    hot = np.array(HOT_SPOTS)[rng.integers(0, len(HOT_SPOTS), size=g)]
    gold = np.array(GOLDEN_POINTS)[rng.integers(0, len(GOLDEN_POINTS), size=g)]
    lng = np.where(r < SKEW_FRAC, hot[:, 0] + rng.uniform(-0.02, 0.02, g),
                   np.where(r < SKEW_FRAC + 0.1, gold[:, 0],
                            rng.uniform(x0, x1, g)))
    lat = np.where(r < SKEW_FRAC, hot[:, 1] + rng.uniform(-0.02, 0.02, g),
                   np.where(r < SKEW_FRAC + 0.1, gold[:, 1],
                            rng.uniform(y0, y1, g)))
    text[is_geo] = [f"geo:{a:.6f},{b:.6f}"
                    for a, b in zip(lng.tolist(), lat.tolist())]

    # text spans: 3-9 words each, sliced out of one joined string
    is_text = kind == "text"
    n_words = rng.integers(3, 10, size=int(is_text.sum()))
    codes = rng.integers(0, len(_WORDS), size=int(n_words.sum()))
    big = " ".join(_WORDS[codes].tolist())
    word_len = np.array([len(w) + 1 for w in _WORDS.tolist()])
    ends = np.cumsum(word_len[codes])
    last = np.cumsum(n_words) - 1
    stop = (ends[last] - 1).tolist()
    start = np.concatenate([[0], ends[last[:-1]]]).tolist()
    text[is_text] = [big[a:b] for a, b in zip(start, stop)]

    is_media = ~(is_geo | is_text)
    span_idx = np.arange(total) - np.repeat(starts, n_spans)
    media[is_media] = [f"blob://{k}/{d}/{s}" for k, d, s in zip(
        kind[is_media].tolist(), doc_of[is_media].tolist(),
        span_idx[is_media].tolist())]

    spans = pa.StructArray.from_arrays(
        [pa.array(kind), pa.array(text, pa.string()),
         pa.array(media, pa.string()), pa.array(offset, pa.int32())],
        names=["kind", "text", "media_ref", "offset"])
    offsets = pa.array(np.concatenate([[0], np.cumsum(n_spans)]), pa.int32())
    table = pa.table({
        "doc_id": pa.array([f"doc-{i:08d}" for i in range(N_DOCS)]),
        "spans": pa.ListArray.from_arrays(offsets, spans),
    })
    pq.write_table(table, path, row_group_size=N_DOCS // 4)
    return {"docs": N_DOCS, "spans": total, "geo_spans": g}


def _points(rng, n: int, box) -> tuple[np.ndarray, np.ndarray]:
    """`n` points, one in each of `n` random cells of a grid over `box`
    (jittered): one seed's set covers the box as evenly as another's,
    so the work per round varies little from seed to seed."""
    w, h = box[2] - box[0], box[3] - box[1]
    nx = int(np.ceil(np.sqrt(n * w / h)))
    ny = int(np.ceil(n / nx))
    cell = rng.permutation(nx * ny)[:n]
    return (box[0] + (cell % nx + rng.random(n)) * w / nx,
            box[1] + (cell // nx + rng.random(n)) * h / ny)


def _nearest_probes(dirpath: str, seed: int) -> dict:
    rng = np.random.default_rng([seed, 3])
    x0, y0, x1, y1 = extent()
    w = WIDEN_DEG
    px, py = _points(rng, N_Q2, (x0 - w, y0 - w, x1 + w, y1 + w))
    pq.write_table(pa.table({"point_id": np.arange(N_Q2, dtype=np.int64),
                             "lng": px, "lat": py}),
                   os.path.join(dirpath, "q2.parquet"))

    cx, cy = _points(rng, N_Q3, (x0 - w, y0 - w, x1 + w, y1 + w))
    # each kind gets the same evenly spaced sizes, in a seeded order
    size = np.empty(N_Q3)
    for k in range(3):
        size[k::3] = rng.permutation(np.linspace(0.02, 0.4, N_Q3 // 3))
    kinds = np.array(["rect", "line", "diamond"])[np.arange(N_Q3) % 3]
    wkt = []
    for k, x, y, s in zip(kinds, cx, cy, size):
        if k == "rect":
            wkt.append(f"POLYGON(({x:.6f} {y:.6f}, {x + s:.6f} {y:.6f}, "
                       f"{x + s:.6f} {y + s:.6f}, {x:.6f} {y + s:.6f}, "
                       f"{x:.6f} {y:.6f}))")
        elif k == "line":
            wkt.append(f"LINESTRING({x:.6f} {y:.6f}, {x + s:.6f} "
                       f"{y + 0.6 * s:.6f}, {x + 1.5 * s:.6f} {y - 0.3 * s:.6f})")
        else:
            wkt.append(f"POLYGON(({x:.6f} {y - s:.6f}, {x + s:.6f} {y:.6f}, "
                       f"{x:.6f} {y + s:.6f}, {x - s:.6f} {y:.6f}, "
                       f"{x:.6f} {y - s:.6f}))")
    pq.write_table(pa.table({"probe_id": np.arange(N_Q3, dtype=np.int64),
                             "kind": kinds, "wkt": wkt}),
                   os.path.join(dirpath, "q3.parquet"))

    return {"q2_probes": N_Q2, "q3_probes": N_Q3,
            "q3_by_kind": {k: int((kinds == k).sum()) for k in set(kinds)}}


def _small(dirpath: str, names: tuple[str, ...]) -> dict:
    """The first rows of each named input, as `<name>_small.parquet`."""
    out = {}
    for name in names:
        n = SMALL[name]
        path = os.path.join(dirpath, f"{name}_small.parquet")
        pq.write_table(pq.read_table(os.path.join(dirpath, f"{name}.parquet"))
                       .slice(0, n), path)
        out[name] = path
    return out


def ensure(cache_root: str, seed: int, workload: str) -> dict:
    """Write (once) the inputs `workload` reads for `seed` under
    `cache_root`; return their paths and shape. A finished set is
    marked by its manifest, written last."""
    os.makedirs(cache_root, exist_ok=True)
    geojson = os.path.join(cache_root, f"boundaries-{fixtures_dense.VERSION}.json")
    shape_path = geojson + ".shape"
    if not os.path.exists(shape_path):
        with open(shape_path + ".tmp", "w") as f:
            json.dump(fixtures_dense.generate(geojson), f)
        os.replace(shape_path + ".tmp", shape_path)
    d = os.path.join(cache_root, f"seed-{seed}-{N_DOCS}-{N_Q2}-{N_Q3}")
    manifest = os.path.join(d, f"manifest-{workload}.json")
    if os.path.exists(manifest):
        with open(manifest) as f:
            return json.load(f)
    os.makedirs(d, exist_ok=True)
    with open(shape_path) as f:
        shape = json.load(f)
    info = {
        "dir": d,
        "geojson": geojson,
        "base_res": BASE_RES,
        "extent": extent(),
        "boundaries": shape,
        "geojson_bytes": os.path.getsize(geojson),
    }
    if workload == "docs_q1":
        info["docs"] = os.path.join(d, "docs.parquet")
        info["docs_shape"] = _docs(info["docs"], seed)
        info["small"] = _small(d, ("docs",))
    else:
        info["q2"] = os.path.join(d, "q2.parquet")
        info["q3"] = os.path.join(d, "q3.parquet")
        info["probe_shape"] = _nearest_probes(d, seed)
        info["small"] = _small(d, ("q2", "q3"))
    tmp = manifest + ".tmp"
    with open(tmp, "w") as f:
        json.dump(info, f)
    os.replace(tmp, manifest)
    return info
