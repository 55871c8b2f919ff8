"""The join fallbacks refine through the index kernels over a per-batch
tile index (engine._batch_index). For Q1 that is `_slab_point_hits`
over the batch's unique kind-0 tiles, which must give the verdicts of
the per-tile (points × segments) loop the Q1 fallback used to run:
crossing parity with the half-open (p < xint) rule plus EPS on-segment
acceptance, degenerate segments included. The batches repeat tiles
across rows in shuffled order, so each row's tile (`tix`) is checked
as well. No Spark needed — the kernels are pure numpy."""
import numpy as np
import pandas as pd
import pytest

from areacity_query_geometry_spark.engine import (
    _batch_index, _seg_rows, _slab_point_hits,
)
from areacity_query_geometry_spark.geom import predicates, wkb


def _ring(rng, n, degenerate_first=False):
    v = rng.rand(n, 2)
    if degenerate_first:
        v = np.vstack([v[:1], v])  # the first segment has zero length
    return np.vstack([v, v[:1]])


def _ent(ring):
    """The per-tile segment arrays the loop reads."""
    segs = predicates.segments_of_rings([ring])
    x1, y1, x2, y2 = (np.ascontiguousarray(segs[:, k]) for k in range(4))
    yd = y2 - y1
    yds = np.where(yd == 0, 1.0, yd)
    dx = x2 - x1
    ln = np.hypot(dx, yd)
    degen = ln == 0
    ln = np.where(degen, 1.0, ln)
    return (x1, y1, x2, y2, yds, dx, ln, degen)


def _loop_reference(ents, starts, ends, px0, py0):
    """The few-big-tiles loop, verbatim arithmetic."""
    hit = np.zeros(len(px0), dtype=bool)
    for gi, (s0, s1) in enumerate(zip(starts, ends)):
        x1, y1, x2, y2, yds, dx, ln, degen = ents[gi]
        p = px0[s0:s1][:, None]
        q = py0[s0:s1][:, None]
        cond = (y1[None, :] > q) != (y2[None, :] > q)
        xint = x1[None, :] + (q - y1[None, :]) / yds[None, :] * dx[None, :]
        crossing = cond & (p < xint)
        parity = (crossing.sum(axis=1) % 2) == 1
        qx = p - x1[None, :]
        qy = q - y1[None, :]
        crossp = np.abs(qx * (y2 - y1)[None, :] - qy * dx[None, :]) / ln[None, :]
        if degen.any():
            crossp = np.where(degen[None, :], np.hypot(qx, qy), crossp)
        t_par = (qx * dx[None, :] + qy * (y2 - y1)[None, :]) / (ln * ln)[None, :]
        if degen.any():
            t_par = np.where(degen[None, :], 0.0, t_par)
        on = (crossp <= predicates.EPS) & (t_par >= -predicates.EPS) \
            & (t_par <= 1 + predicates.EPS)
        hit[s0:s1] = parity | on.any(axis=1)
    return hit


def _case(rng, ngroups, npair_g, degenerate_every=17):
    """A batch of (point, tile) rows: tile g is a random ring over a
    random rect, keyed (cell, region, minx, miny) with cells and
    regions shared between tiles, repeated over npair_g[g] rows; the
    rows come shuffled. Returns the batch, each row's tile, the rings
    and the rows' points."""
    rings = [_ring(rng, int(rng.randint(1, 9)),
                   degenerate_first=(g % degenerate_every == 0))
             for g in range(ngroups)]
    cell = rng.randint(0, 6, ngroups).astype(np.int64)
    region = rng.randint(0, 4, ngroups).astype(np.int64)
    x0, y0 = rng.rand(ngroups) - 0.5, rng.rand(ngroups) - 0.5
    x1, y1 = x0 + rng.rand(ngroups) + 0.1, y0 + rng.rand(ngroups) + 0.1
    blobs = [wkb.dumps({"type": "Polygon", "rings": [r]}) for r in rings]
    tile = np.repeat(np.arange(ngroups), npair_g)
    px = rng.rand(len(tile)) * 1.5 - 0.2
    py = rng.rand(len(tile)) * 1.5 - 0.2
    # plant exact on-segment points (segment midpoints) in a few tiles
    for g in (3, ngroups // 2):
        r = np.nonzero(tile == g)[0][0]
        px[r] = (rings[g][0, 0] + rings[g][1, 0]) / 2
        py[r] = (rings[g][0, 1] + rings[g][1, 1]) / 2
    perm = rng.permutation(len(tile))
    tile, px, py = tile[perm], px[perm], py[perm]
    pdf = pd.DataFrame({
        "cell_id": cell[tile], "region_id": region[tile],
        "minx": x0[tile], "miny": y0[tile],
        "maxx": x1[tile], "maxy": y1[tile],
        "tile_wkb": [blobs[g] for g in tile]})
    return pdf, tile, rings, px, py


def _want(tile, rings, px, py):
    """The loop over the rows sorted by tile, mapped back to row order."""
    order = np.argsort(tile, kind="stable")
    cnt = np.bincount(tile, minlength=len(rings))
    ends = np.cumsum(cnt)
    hit = _loop_reference([_ent(r) for r in rings], ends - cnt, ends,
                          px[order], py[order])
    back = np.empty(len(tile), dtype=bool)
    back[order] = hit
    return back


def _check(pdf, tile, rings, px, py):
    I, tix = _batch_index(pdf)
    # one index tile per batch tile, holding that tile's ring segments
    assert len(I["region"]) == len(rings)
    assert (I["region"][tix] == pdf["region_id"].to_numpy()).all()
    assert (I["minx"][tix] == pdf["minx"].to_numpy()).all()
    assert (I["miny"][tix] == pdf["miny"].to_numpy()).all()
    # rows of one tile share one tix, rows of two tiles never do
    assert len(set(zip(tile, tix))) == len(np.unique(tix)) == len(rings)
    ring_of = dict(zip(tix, tile))
    for g in range(len(rings)):
        got = _seg_rows(I["SEG"],
                        I["tile_seg"][I["seg_ptr"][g]:I["seg_ptr"][g + 1]])
        assert (got == predicates.segments_of_rings([rings[ring_of[g]]])).all()
    want = _want(tile, rings, px, py)
    assert (_slab_point_hits(I, tix, px, py) == want).all()
    # the index depends on the batch's tile set, not on its row order
    I2, tix2 = _batch_index(pdf.iloc[::-1])
    assert I2.keys() == I.keys()
    assert all((I2[k] == I[k]).all() for k in I)
    assert (tix2 == tix[::-1]).all()
    return want


@pytest.mark.parametrize("seed", [7, 23, 1009])
def test_batch_index_matches_loop(seed):
    rng = np.random.RandomState(seed)
    ngroups = int(rng.randint(65, 400))
    npair_g = rng.randint(1, 15, size=ngroups)
    want = _check(*_case(rng, ngroups, npair_g))
    assert want.any() and not want.all()  # the batch exercises both


def test_batch_index_single_point_groups():
    """Degenerate shape: every tile has exactly one row (the dense
    lattice's common case at low probe rates)."""
    rng = np.random.RandomState(42)
    _check(*_case(rng, 100, np.ones(100, dtype=np.int64),
                  degenerate_every=3))
