"""The boundary index's deduplicated segment store must not change a
kernel's output by a single bit.

`_build_boundary_index` keeps each distinct undirected segment once in
`SEG` and gives every tile signed refs into it (ref ~j is row j
reversed). The tiles here are regions of a jittered lattice clipped to
CLIP_EPS-expanded cells, as the tiler clips them, so their rings carry
window runs: a province (deep 0), two cities (deep 1) and three
districts (deep 2). A province edge is also an edge of a city and a
district, and neighbours share their common edges in reverse. Each
kernel runs on that index and on its expanded twin, built here: every
tile's rows in ring order and identity refs, the layout the store
replaced. Both must give bit-equal outputs. No Spark is needed.
"""
import numpy as np
import pytest

from areacity_query_geometry_spark import tiler
from areacity_query_geometry_spark.engine import (
    SLABS, _build_boundary_index, _index_point_hits, _pair_argmins,
    _prim_tile_hits, _tolerance_pair_dists, _unlimited_pairs,
)
from areacity_query_geometry_spark.geom import predicates
from areacity_query_geometry_spark.linework import piece_lengths
from areacity_query_geometry_spark.overlay import piece_areas

# lattice: N × N vertices STEP degrees apart from (X0, Y0); cells CELL
# degrees wide from the same corner, NC × NC of them
N, STEP, X0, Y0 = 8, 0.125, 100.0, 30.0
CELL, NC = 0.5, 2
# region id → (deep, lattice block i0, j0, i1, j1)
REGIONS = {1: (0, 0, 0, 7, 7),
           2: (1, 0, 0, 3, 7), 3: (1, 3, 0, 7, 7),
           4: (2, 0, 0, 3, 4), 5: (2, 0, 4, 3, 7), 6: (2, 3, 0, 7, 7)}


def _lattice():
    rng = np.random.default_rng(5)
    i, j = np.meshgrid(np.arange(N), np.arange(N), indexing="ij")
    return (X0 + STEP * i + rng.uniform(-0.03, 0.03, i.shape),
            Y0 + STEP * j + rng.uniform(-0.03, 0.03, j.shape))


def _block_ring(V, i0, j0, i1, j1):
    """The closed counter-clockwise ring of lattice block [i0, i1] ×
    [j0, j1], through every lattice vertex on its border."""
    path = ([(i, j0) for i in range(i0, i1)]
            + [(i1, j) for j in range(j0, j1)]
            + [(i, j1) for i in range(i1, i0, -1)]
            + [(i0, j) for j in range(j1, j0, -1)])
    path.append(path[0])
    vx, vy = V
    return np.array([(vx[p], vy[p]) for p in path])


def _cell_rect(c):
    cx, cy = c % NC, c // NC
    return (X0 + CELL * cx, Y0 + CELL * cy,
            X0 + CELL * (cx + 1), Y0 + CELL * (cy + 1))


def _tiles():
    """(cell, region, deep, kind, rect, segments) per tile: each region
    clipped to each cell's CLIP_EPS-expanded rect, plus one kind-2 rect
    tile."""
    V = _lattice()
    e = tiler.CLIP_EPS
    out = []
    for rid, (deep, *blk) in REGIONS.items():
        ring = _block_ring(V, *blk)
        for c in range(NC * NC):
            x0, y0, x1, y1 = _cell_rect(c)
            clip = predicates.clip_ring_to_rect(ring, x0 - e, y0 - e,
                                                x1 + e, y1 + e)
            if len(clip):
                out.append((c, rid, deep, 0, (x0, y0, x1, y1),
                            predicates.segments_of_rings([clip])))
    x0, y0 = _cell_rect(0)[:2]
    out.append((0, 7, 2, 2, (x0 + 0.1, y0 + 0.1, x0 + 0.2, y0 + 0.2),
                np.zeros((0, 4))))
    return out


def _index(rows):
    t = {k: np.array([r[i] for r in rows]) for i, k in
         enumerate(("cell_id", "region_id", "deep", "kind"))}
    for i, k in enumerate(("minx", "miny", "maxx", "maxy")):
        t[k] = np.array([r[4][i] for r in rows])
    return _build_boundary_index(t, np.array([len(r[5]) for r in rows]),
                                 np.vstack([r[5] for r in rows]))


def _resolve(SEG, ref):
    """The rows of signed refs, resolved here without the engine."""
    ref = ref.astype(np.int64)
    rev = ref < 0
    rows = SEG[np.where(rev, ~ref, ref)]
    rows[rev] = rows[rev][:, [2, 3, 0, 1]]
    return rows


def _twin(I):
    """I expanded: SEG holds every tile's rows in ring order and each
    ref is the position of its own row, as in the index before the
    store was deduplicated."""
    ntiles = len(I["region"])
    tile_of = np.repeat(np.arange(ntiles), np.diff(I["seg_ptr"]))
    pos = {}
    for p, key in enumerate(zip(tile_of.tolist(), I["tile_seg"].tolist())):
        pos.setdefault(key, p)

    def at(tiles, refs):
        return np.array([pos[k] for k in zip(tiles.tolist(), refs.tolist())],
                        dtype=I["tile_seg"].dtype)

    slab_tile = np.repeat(np.arange(ntiles * SLABS) // SLABS,
                          np.diff(I["slab_ptr"]))
    fseg_tile = np.repeat(np.arange(ntiles), np.diff(I["fseg_ptr"]))
    J = dict(I)
    J.update(SEG=_resolve(I["SEG"], I["tile_seg"]),
             tile_seg=np.arange(len(tile_of), dtype=I["tile_seg"].dtype),
             slab_seg=at(slab_tile, I["slab_seg"]),
             fseg=at(fseg_tile, I["fseg"]))
    return J


def _same(a, b):
    """Bit equality of two kernel outputs: arrays, tuples, dicts."""
    if isinstance(a, dict):
        assert a.keys() == b.keys()
        for k in a:
            _same(a[k], b[k])
    elif isinstance(a, tuple):
        assert len(a) == len(b)
        for x, y in zip(a, b):
            _same(x, y)
    else:
        a, b = np.asarray(a), np.asarray(b)
        assert a.dtype == b.dtype and a.shape == b.shape
        assert a.tobytes() == b.tobytes()


@pytest.fixture(scope="module")
def case():
    rows = _tiles()
    I = _index(rows)
    return rows, I, _twin(I)


@pytest.fixture(scope="module")
def points(case):
    """Probe points: uniform over the set and a margin, every lattice
    vertex, points on lattice edges, and points on and beside the
    expanded windows."""
    rng = np.random.default_rng(6)
    vx, vy = _lattice()
    t = rng.uniform(0, 1, vx[:-1].size)
    pts = [rng.uniform([X0 - 0.05, Y0 - 0.05], [X0 + 1.05, Y0 + 1.05],
                       (3000, 2)),
           np.column_stack((vx.ravel(), vy.ravel())),
           np.column_stack((vx[:-1].ravel() + t * (vx[1:] - vx[:-1]).ravel(),
                            vy[:-1].ravel() + t * (vy[1:] - vy[:-1]).ravel()))]
    e = tiler.CLIP_EPS
    for d in (-e, 0.0, e, 2 * e):
        ys = rng.uniform(Y0, Y0 + 1.0, 40)
        pts.append(np.column_stack((np.full(40, X0 + CELL + d), ys)))
    p = np.vstack(pts)
    return p[:, 0], p[:, 1]


def _cell_of(px, py):
    cx = np.floor((px - X0) / CELL)
    cy = np.floor((py - Y0) / CELL)
    ok = (cx >= 0) & (cx < NC) & (cy >= 0) & (cy < NC)
    return np.where(ok, cy * NC + cx, -1).astype(np.int64)


def test_store_is_shared_across_levels_and_in_reverse(case):
    """The fixture reaches what the store deduplicates: rows shared by
    tiles of all three levels, rows a tile holds reversed, window runs;
    and the twin's rows are the input rings' segments."""
    rows, I, J = case
    refs = I["tile_seg"].astype(np.int64)
    j = np.where(refs < 0, ~refs, refs)
    assert len(I["SEG"]) < 0.6 * len(refs)
    tile_of = np.repeat(np.arange(len(I["region"])), np.diff(I["seg_ptr"]))
    levels = {}
    for row, d in zip(j.tolist(), I["deep"][tile_of].tolist()):
        levels.setdefault(row, set()).add(d)
    assert sum(v == {0, 1, 2} for v in levels.values()) > 20
    both = np.intersect1d(j[refs >= 0], j[refs < 0])
    assert len(both) >= 10
    assert len(I["fseg"]) < len(refs)  # window runs left out
    by_key = {(r[0], r[1]): r[5] for r in rows}
    cell_of = np.repeat(I["cells"], np.diff(I["cell_ptr"]))
    for t in range(len(I["region"])):
        want = by_key[(int(cell_of[t]), int(I["region"][t]))]
        got = J["SEG"][J["seg_ptr"][t]:J["seg_ptr"][t + 1]]
        assert got.tobytes() == np.asarray(want, np.float64).tobytes()


def test_point_hits(case, points):
    _, I, J = case
    px, py = points
    cid = _cell_of(px, py)
    got = _index_point_hits(I, px, py, cid)
    assert len(got[1][0]) > 1000
    _same(got, _index_point_hits(J, px, py, cid))


def _kind0_pairs(I, n):
    tiles = np.nonzero(I["kind"] == 0)[0]
    return np.repeat(np.arange(n), len(tiles)), np.tile(tiles, n)


def test_pair_argmins_and_tolerance(case, points):
    _, I, J = case
    px, py = (a[::7] for a in points)
    prep, tix = _kind0_pairs(I, len(px))
    _same(_pair_argmins(I, px[prep], py[prep], tix),
          _pair_argmins(J, px[prep], py[prep], tix))
    got = _tolerance_pair_dists(I, px, py, prep, tix, 15000.0)
    assert len(got[0]) > 100
    _same(got, _tolerance_pair_dists(J, px, py, prep, tix, 15000.0))


@pytest.mark.parametrize("refine", [False, True])
def test_unlimited_pairs(case, points, refine):
    _, I, J = case
    px, py = (a[::25] for a in points)
    px = np.concatenate([px, [X0 + 3.0, X0 - 2.0]])
    py = np.concatenate([py, [Y0 + 0.3, Y0 + 2.5]])
    got = _unlimited_pairs(I, px, py, 2, refine=refine)
    assert len(got[0]) >= 3 * len(px)
    _same(got, _unlimited_pairs(J, px, py, 2, refine=refine))


def test_prim_tile_hits(case):
    """Rect, segment and containment primitives against every tile; a
    containment row of a kind-0 tile reads its representative vertex."""
    _, I, J = case
    rng = np.random.default_rng(7)
    n = 150
    a = rng.uniform([X0 - 0.05, Y0 - 0.05], [X0 + 1.05, Y0 + 1.05], (n, 2))
    w = rng.uniform(0.001, 0.2, (n, 2))
    rects = np.hstack([a, a + w])
    segs = np.hstack([a, a + rng.uniform(-0.2, 0.2, (n, 2))])
    c = rng.uniform([X0, Y0], [X0 + 0.5, Y0 + 0.5], (40, 2))
    squares = [f"POLYGON(({x0} {y0}, {x1} {y0}, {x1} {y1}, {x0} {y1}, "
               f"{x0} {y0}))" for (x0, y0), (x1, y1) in
               zip(c, c + rng.uniform(0.05, 0.4, (40, 1)))]
    pk = np.repeat([1, 2, 3], [n, n, len(squares)])
    p = np.vstack([rects, segs, np.zeros((len(squares), 4))])
    wkt = np.array([None] * (2 * n) + squares, dtype=object)
    ntiles = len(I["region"])
    prim = np.repeat(np.arange(len(pk)), ntiles)
    tix = np.tile(np.arange(ntiles), len(pk))
    kind = I["kind"][tix]
    rect = tuple(I[k][tix] for k in ("minx", "miny", "maxx", "maxy"))
    got = _prim_tile_hits(I, tix, kind, rect, pk[prim], p[prim], wkt[prim],
                          {})
    assert got[pk[prim] == 3].any() and got[pk[prim] != 3].any()
    _same(got, _prim_tile_hits(J, tix, kind, rect, pk[prim], p[prim],
                               wkt[prim], {}))


def test_piece_lengths_and_areas(case):
    """Segments and windows inside each kind-0 tile's cell: diagonal
    and axis-parallel, some within one y-slab."""
    _, I, J = case
    rng = np.random.default_rng(9)
    tiles = np.repeat(np.nonzero(I["kind"] == 0)[0], 30)
    x0, y0, x1, y1 = (I[k][tiles] for k in ("minx", "miny", "maxx", "maxy"))
    u = rng.uniform(0, 1, (4, len(tiles)))
    ax, ay = x0 + u[0] * (x1 - x0), y0 + u[1] * (y1 - y0)
    bx, by = x0 + u[2] * (x1 - x0), y0 + u[3] * (y1 - y0)
    flat = np.arange(len(tiles)) % 3
    by = np.where(flat == 1, ay, by)  # horizontal: within one slab
    bx = np.where(flat == 2, ax, bx)  # vertical
    got = piece_lengths(I, tiles, ax, ay, bx, by)
    assert (got > 0).sum() > len(tiles) // 4
    _same(got, piece_lengths(J, tiles, ax, ay, bx, by))
    wx0, wx1 = np.minimum(ax, bx), np.maximum(ax, bx)
    wy0, wy1 = np.minimum(ay, by), np.maximum(ay, by)
    got = piece_areas(I, tiles, wx0, wy0, wx1, wy1)
    assert (got[flat == 0] > 0).mean() > 0.5  # the others are flat
    _same(got, piece_areas(J, tiles, wx0, wy0, wx1, wy1))
