"""The Q3 index path's flat (primitive, tile, segment) kernel must give
the verdicts of the per-tile predicates it replaced.

`_boundary_prim_hits` decides every rect/point (pkind 1) and segment
(pkind 2) primitive against a kind-0 boundary tile in one flat pass:
touch/cross on the tile's distance-fit segments OR the primitive's
first point inside the tile (the Q1 slab kernel). The reference here
is the per-tile form: `segments_in_cells` / `segs_intersect_segs_any`
over the tile's `fseg` rows, OR'd with `points_intersect_prepared`
over its whole `seg_ptr` ring. The index is built by
`_build_boundary_index` from synthetic tiles, so no Spark and no
external file is needed. The probes sit where the two forms could
part: rect edges collinear with tile edges, rect corners on vertices,
point-rects and zero-height rects on edges, segments that touch only
at an endpoint or run along an edge, a rect strictly inside a tile,
first points on slab borders, primitives touching only a window run,
and a pair set spanning several row blocks.
"""
import numpy as np
import pandas as pd
import pytest

from areacity_query_geometry_spark import engine, tiler
from areacity_query_geometry_spark.engine import (
    SLABS, _boundary_prim_hits, _build_boundary_index, _seg_rows,
)
from areacity_query_geometry_spark.geom import predicates

# the tile window's right edge: a ring run along it is a window run
WX1 = 1.0 + tiler.CLIP_EPS


def _ring(pts):
    r = np.asarray(pts, dtype=np.float64)
    return np.vstack([r, r[:1]])


def _star(rng, cx, cy, n, r0, r1):
    ang = np.sort(rng.uniform(0, 2 * np.pi, n))
    rad = rng.uniform(r0, r1, n)
    pts = np.column_stack((cx + rad * np.cos(ang), cy + rad * np.sin(ang)))
    pts[3, 1] = pts[2, 1]  # a horizontal edge
    return [_ring(pts)]


def _index():
    """Kind-0 tiles: a square with a hole, a random star, a region
    clipped at the window's right edge (one window run), and a star
    sharing a cell with the square; plus a kind-2 rect tile."""
    rng = np.random.default_rng(11)
    unit = (0.0, 0.0, 1.0, 1.0)
    rows = [(10, 1, 0, unit, [_ring([(0.1, 0.1), (0.9, 0.1), (0.9, 0.9),
                                     (0.1, 0.9)]),
                              _ring([(0.3, 0.3), (0.3, 0.7), (0.7, 0.7),
                                     (0.7, 0.3)])]),
            (11, 2, 0, unit, _star(rng, 0.5, 0.5, 40, 0.2, 0.45)),
            (12, 3, 0, unit, [_ring([(0.25, 0.25), (WX1, 0.25),
                                     (WX1, 0.75), (0.25, 0.75)])]),
            (10, 4, 0, unit, _star(rng, 0.6, 0.4, 25, 0.05, 0.3)),
            (13, 5, 2, (0.25, 0.25, 0.5, 0.5), [])]
    pdf = pd.DataFrame({
        "cell_id": [r[0] for r in rows],
        "region_id": [r[1] for r in rows],
        "deep": [0] * len(rows),
        "kind": [r[2] for r in rows],
        "minx": [r[3][0] for r in rows], "miny": [r[3][1] for r in rows],
        "maxx": [r[3][2] for r in rows], "maxy": [r[3][3] for r in rows],
    })
    return _build_boundary_index(pdf, *_ring_segs([r[4] for r in rows]))


def _ring_segs(tile_rings):
    """Each tile's ring segments in `wkb.ring_segments`' (count, segs)
    form."""
    segs = [predicates.segments_of_rings(r) for r in tile_rings]
    return np.array([len(g) for g in segs], np.int64), np.vstack(segs)


def _probes(I):
    """(pk, p) primitives: pk 1 rows are (minx, miny, maxx, maxy), pk 2
    rows segment endpoints (x1, y1, x2, y2)."""
    rng = np.random.default_rng(4)
    S = _seg_rows(I["SEG"], I["tile_seg"])
    v = S[:, :2]
    d = 1e-3
    rects = [
        # corners exactly on vertices, in all four quadrants
        np.column_stack((v, v + d)), np.column_stack((v - d, v)),
        np.column_stack((v[:, 0] - d, v[:, 1], v[:, 0], v[:, 1] + d)),
        np.column_stack((v[:, 0], v[:, 1] - d, v[:, 0] + d, v[:, 1])),
        # point-rects on vertices and zero-height rects through them
        np.column_stack((v, v)),
        np.column_stack((v[:, 0] - d, v[:, 1], v[:, 0] + d, v[:, 1])),
        # edges collinear with the square's, the hole's and the window
        # run, overlapping and disjoint along the line
        np.array([(0.5, 0.1, 0.6, 0.2), (0.5, 0.0, 0.6, 0.1),
                  (0.95, 0.0, 1.2, 0.1), (0.9, 0.4, 1.1, 0.5),
                  (0.2, 0.3, 0.3, 0.4), (0.7, 0.5, 0.8, 0.6),
                  (WX1, 0.3, 1.2, 0.4), (WX1, 0.8, 1.2, 0.9),
                  (0.5, 0.1, 0.6, 0.1), (0.0, 0.9, 0.05, 0.9),
                  (0.1, 0.5, 0.1, 0.5), (0.1, 0.95, 0.1, 0.95)]),
        # strictly inside a tile, no boundary contact
        np.array([(0.15, 0.15, 0.2, 0.2), (0.75, 0.75, 0.85, 0.85)]),
        # first point exactly on each slab border of the unit tiles
        np.column_stack((rng.uniform(0, 1, SLABS + 1),
                         np.arange(SLABS + 1) / SLABS,
                         rng.uniform(0, 1, SLABS + 1) + 0.01,
                         np.arange(SLABS + 1) / SLABS + 0.02)),
        np.sort(rng.uniform(-0.1, 1.1, (600, 2, 2)), axis=1).reshape(-1, 4),
    ]
    ang = rng.uniform(0, 2 * np.pi, len(v))
    out = v + 0.05 * np.column_stack((np.cos(ang), np.sin(ang)))
    segs = [
        # endpoint on a vertex, the other end out, in both orders
        np.column_stack((v, out)), np.column_stack((out, v)),
        # along an edge: the tile segments themselves, reversed, and
        # axis-aligned runs half on the square's and the window's edges
        S, S[:, [2, 3, 0, 1]],
        np.array([(0.0, 0.1, 0.5, 0.1), (0.9, 0.5, 0.9, 1.2),
                  (0.3, 0.2, 0.3, 0.5), (WX1, 0.0, WX1, 0.5),
                  (WX1, 0.8, WX1, 0.9), (1.2, 0.5, WX1, 0.5)]),
        # first point on each slab border
        np.column_stack((rng.uniform(0, 1, SLABS + 1),
                         np.arange(SLABS + 1) / SLABS,
                         rng.uniform(0, 1, SLABS + 1),
                         rng.uniform(0, 1, SLABS + 1))),
        rng.uniform(-0.1, 1.1, (600, 4)),
    ]
    p = np.vstack(rects + segs)
    pk = np.repeat([1, 2], [sum(map(len, rects)), sum(map(len, segs))])
    return pk, p


def _per_tile(I, tiles, pk, p):
    """The per-tile predicates: (touch, inside) per pair."""
    touch = np.zeros(len(tiles), dtype=bool)
    inside = np.zeros(len(tiles), dtype=bool)
    SEG = I["SEG"]
    for t in np.unique(tiles):
        raw = _seg_rows(SEG, I["tile_seg"][I["seg_ptr"][t]:I["seg_ptr"][t + 1]])
        flt = _seg_rows(SEG, I["fseg"][I["fseg_ptr"][t]:I["fseg_ptr"][t + 1]])
        for k in (1, 2):
            rows = np.nonzero((tiles == t) & (pk == k))[0]
            a0, a1, a2, a3 = p[rows].T
            touch[rows] = (
                predicates.segments_in_cells(flt, a0, a1, a2, a3) if k == 1
                else predicates.segs_intersect_segs_any(a0, a1, a2, a3, flt))
            inside[rows] = predicates.points_intersect_prepared(a0, a1, raw)
    return touch, inside


@pytest.fixture(scope="module")
def case():
    I = _index()
    pk, p = _probes(I)
    kind0 = np.nonzero(I["kind"] == 0)[0]
    tiles = np.tile(kind0, len(pk))
    pk = np.repeat(pk, len(kind0))
    p = np.repeat(p, len(kind0), axis=0)
    return I, tiles, pk, p, _per_tile(I, tiles, pk, p)


@pytest.mark.parametrize("block", [None, 7])
def test_flat_pass_equals_per_tile_predicates(case, block, monkeypatch):
    I, tiles, pk, p, (touch, inside) = case
    if block is not None:  # smaller than most tiles: one pair per block
        monkeypatch.setattr(engine, "PRIM_BLOCK_ROWS", block)
        # `_row_blocks` reads the patched size when called
        raw = I["seg_ptr"][tiles + 1] - I["seg_ptr"][tiles]
        blocks = list(engine._row_blocks(raw))
        assert len(blocks) > 1
        assert all(b1 - b0 == 1 or raw[b0:b1].sum() <= block
                   for b0, b1 in blocks)
    got = _boundary_prim_hits(I, tiles, pk, p)
    np.testing.assert_array_equal(got, touch | inside)


def test_probe_set_reaches_every_verdict(case):
    """Each kind hits through touch alone and through inside alone,
    and the pairs span several row blocks at the module's block size."""
    I, tiles, pk, p, (touch, inside) = case
    for k in (1, 2):
        assert (touch & ~inside & (pk == k)).sum() > 10
        assert (inside & ~touch & (pk == k)).sum() > 10
        assert (~touch & ~inside & (pk == k)).sum() > 10
    raw = I["seg_ptr"][tiles + 1] - I["seg_ptr"][tiles]
    assert raw.sum() > 2 * engine.PRIM_BLOCK_ROWS
    # the rect strictly inside the square's ring is a hit through
    # `inside` only
    sq = (I["region"][tiles] == 1) & (pk == 1) \
        & (p == (0.15, 0.15, 0.2, 0.2)).all(1)
    assert sq.sum() == 1 and inside[sq].all() and not touch[sq].any()
    # a segment ending on the clipped region's window run, and
    # otherwise outside it, does not meet the region
    win = (I["region"][tiles] == 3) & (pk == 2) \
        & (p == (1.2, 0.5, WX1, 0.5)).all(1)
    assert win.sum() == 1 and not (touch[win] | inside[win]).any()
