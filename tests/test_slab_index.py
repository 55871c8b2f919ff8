"""The boundary index's y-slab CSR must not change a point verdict.

`_index_point_hits` tests a kind-0 (probe, tile) pair only against the
segments listed under the probe's y-slab; this compares it with an
unslabbed reference that runs `_pair_hits_flat` over all of the tile's
ring segments (its `tile_seg` refs). The index is built by
`_build_boundary_index` from synthetic tiles, so no Spark and no
external file is needed. The probes sit where a slab could lose a
segment: on near-horizontal edges, on vertices, exactly on slab
borders, within EPS above a flat roof apex just below a border, at
the tile's miny/maxy, outside its y-range, and at NaN.
"""
import numpy as np
import pandas as pd
import pytest

from areacity_query_geometry_spark.engine import (
    SLABS, _build_boundary_index, _cell_pairs, _index_point_hits,
    _pair_hits_flat, _seg_len, _seg_rows,
)
from areacity_query_geometry_spark.geom import predicates

EPS = predicates.EPS
# the ±inf probes make the kernel's arithmetic warn; verdicts are False
pytestmark = pytest.mark.filterwarnings("ignore:invalid value:RuntimeWarning")
# rect [0, 1] x [0, 1] has slab height 1/16, so y = 0.5 is a border
ROOF_Y = 0.5 - 1e-13


def _ring(pts):
    r = np.asarray(pts, dtype=np.float64)
    return np.vstack([r, r[:1]])


def _roof():
    """A house whose flat roof (two near-horizontal edges) peaks just
    below the slab border at y = 0.5."""
    return [_ring([(0.2, 0.1), (0.8, 0.1), (0.8, ROOF_Y - 1e-6),
                   (0.5, ROOF_Y), (0.2, ROOF_Y - 1e-6)])]


def _star(rng, cx, cy, n, r0, r1):
    ang = np.sort(rng.uniform(0, 2 * np.pi, n))
    rad = rng.uniform(r0, r1, n)
    pts = np.column_stack((cx + rad * np.cos(ang), cy + rad * np.sin(ang)))
    # near-horizontal and exactly horizontal edges, and a repeated
    # vertex (a degenerate segment)
    pts[3, 1] = pts[2, 1] + 1e-9
    pts[6, 1] = pts[5, 1]
    pts = np.insert(pts, 8, pts[8], axis=0)
    return [_ring(pts)]


def _tiles():
    """(cell, region, kind, rect, rings) rows: the roof, random stars
    (one reaching past its rect, so its segments clip to the end
    slabs), a hole, two tiles in one cell, and a kind-2 rect tile."""
    rng = np.random.default_rng(3)
    unit = (0.0, 0.0, 1.0, 1.0)
    rows = [(10, 1, 0, unit, _roof()),
            (11, 2, 0, unit, _star(rng, 0.5, 0.5, 40, 0.2, 0.45)),
            (12, 3, 0, (0.0, 0.25, 1.0, 0.75),
             _star(rng, 0.5, 0.5, 30, 0.1, 0.6)),
            (13, 4, 0, unit, [_ring([(0.1, 0.1), (0.9, 0.1), (0.9, 0.9),
                                     (0.1, 0.9)]),
                              _ring([(0.3, 0.3), (0.3, 0.7), (0.7, 0.7),
                                     (0.7, 0.3)])]),
            (14, 5, 0, unit, _star(rng, 0.3, 0.6, 25, 0.05, 0.25)),
            (14, 6, 0, unit, _star(rng, 0.7, 0.4, 25, 0.05, 0.25)),
            (15, 7, 2, (0.25, 0.25, 0.5, 0.5), [])]
    return rows


def _index(rows):
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
    """Probe points, each paired with every cell of the index."""
    S = _seg_rows(I["SEG"], I["tile_seg"])
    rng = np.random.default_rng(8)
    t = rng.uniform(0, 1, len(S))[:, None]
    on_edge = S[:, :2] + t * (S[:, 2:4] - S[:, :2])
    verts = S[:, :2]
    near_v = np.vstack([verts + [0.0, d] for d in
                        (-4e-12, -1e-12, -5e-13, 5e-13, 1e-12, 4e-12)])
    borders = np.arange(SLABS + 1) / SLABS
    on_border = np.column_stack((rng.uniform(0, 1, 4 * len(borders)),
                                 np.repeat(borders, 4)))
    # and exactly on a segment's crossing of a slab border
    ys = np.repeat(borders, len(S))
    x1, y1, x2, y2 = (np.tile(S[:, k], len(borders)) for k in range(4))
    spans = (np.minimum(y1, y2) <= ys) & (ys <= np.maximum(y1, y2)) \
        & (y1 != y2)
    xb = x1 + (ys - y1) / np.where(y1 == y2, 1.0, y2 - y1) * (x2 - x1)
    cross_border = np.column_stack((xb[spans], ys[spans]))
    roof = [(0.5, ROOF_Y + EPS / 2), (0.5, ROOF_Y + 9e-13),
            (0.35, ROOF_Y - 5e-7), (0.5, ROOF_Y - 1e-13)]
    edges_y = [(x, y) for x in (0.05, 0.5, 0.95)
               for y in (0.0, 0.25, 0.75, 1.0, -0.3, 1.5, -1e-12, 1 + 1e-12)]
    nan = [(np.nan, 0.5), (0.5, np.nan), (np.nan, np.nan),
           (0.5, np.inf), (0.5, -np.inf)]
    inner = rng.uniform(-0.1, 1.1, (2000, 2))
    return np.vstack([on_edge, verts, near_v, on_border, cross_border,
                      roof, edges_y, nan, inner])


def _unslabbed(I, px, py, cid):
    """(row, region) boundary hits testing every segment of each kind-0
    tile, and the half-open rect of each kind-2 tile."""
    rows, _, tile = _cell_pairs(I["cells"], I["cell_ptr"], cid)
    hits = set()
    for r, t in zip(rows, tile):
        if I["kind"][t] == 2:
            if (I["minx"][t] <= px[r] < I["maxx"][t]
                    and I["miny"][t] <= py[r] < I["maxy"][t]):
                hits.add((int(r), int(I["region"][t])))
            continue
        seg = _seg_rows(I["SEG"],
                        I["tile_seg"][I["seg_ptr"][t]:I["seg_ptr"][t + 1]])
        x1, y1, x2, y2 = seg.T
        dx, yd = x2 - x1, y2 - y1
        n = len(seg)
        hit = _pair_hits_flat(
            x1, y1, x2, y2, np.where(yd == 0, 1.0, yd), dx,
            _seg_len(x1, y1, x2, y2),
            (dx == 0) & (yd == 0), np.zeros(n, np.int64),
            np.full(n, px[r]), np.full(n, py[r]), 1)
        if hit[0]:
            hits.add((int(r), int(I["region"][t])))
    return hits


def _slabbed(I, px, py, cid):
    _, (br, bg) = _index_point_hits(I, px, py, cid)
    got = list(zip(br.tolist(), bg.tolist()))
    assert len(got) == len(set(got))
    return set(got)


@pytest.fixture(scope="module")
def index():
    return _index(_tiles())


@pytest.fixture(scope="module")
def probe_rows(index):
    pts = _probes(index)
    cells = index["cells"]
    px = np.repeat(pts[:, 0], len(cells))
    py = np.repeat(pts[:, 1], len(cells))
    cid = np.tile(cells, len(pts))
    return px, py, cid


def test_slabbed_hits_equal_unslabbed(index, probe_rows):
    px, py, cid = probe_rows
    ref = _unslabbed(index, px, py, cid)
    assert _slabbed(index, px, py, cid) == ref
    # the probe set reaches every verdict it is meant to
    assert len(ref) > 1000
    on_roof = np.nonzero((px == 0.5) & (py == ROOF_Y + EPS / 2)
                         & (cid == 10))[0]
    assert {(int(on_roof[0]), 1)} <= ref


def test_roof_apex_probe_is_on_segment_only_through_the_roof(index):
    """Just above the apex: outside the house by parity, accepted
    within EPS by the two roof edges, which lie wholly in the slab
    below the probe's."""
    px = np.array([0.5])
    py = np.array([ROOF_Y + EPS / 2])
    cid = np.array([10])
    y0, h = index["slab_y0"][0], index["slab_h"][0]
    assert np.floor((py[0] - y0) / h) == SLABS // 2
    assert np.floor((ROOF_Y - y0) / h) == SLABS // 2 - 1
    assert _unslabbed(index, px, py, cid) == {(0, 1)}
    assert _slabbed(index, px, py, cid) == {(0, 1)}


def test_slab_lists_cover_each_segment_y_range(index):
    """Every ring segment of a tile is listed under each slab of that
    tile its unpadded y-range overlaps, and a slab lists only refs of
    its own tile's segments."""
    I = index
    ntiles = len(I["region"])
    ptr, seg = I["slab_ptr"], I["slab_seg"]
    assert ptr.dtype == np.int32 and seg.dtype == np.int32
    assert len(ptr) == ntiles * SLABS + 1 and ptr[-1] == len(seg)
    listed = {}
    for k in range(ntiles * SLABS):
        for r in seg[ptr[k]:ptr[k + 1]]:
            listed.setdefault((k // SLABS, int(r)), set()).add(k % SLABS)
    for t in range(ntiles):
        refs = I["tile_seg"][I["seg_ptr"][t]:I["seg_ptr"][t + 1]]
        assert {r for (u, r) in listed if u == t} == set(refs.tolist())
        y0, h = I["slab_y0"][t], I["slab_h"][t]
        for r, (x1, y1, x2, y2) in zip(refs, _seg_rows(I["SEG"], refs)):
            lo = int(np.clip(np.floor((min(y1, y2) - y0) / h), 0, SLABS - 1))
            hi = int(np.clip(np.floor((max(y1, y2) - y0) / h), 0, SLABS - 1))
            assert set(range(lo, hi + 1)) <= listed[(t, int(r))]
