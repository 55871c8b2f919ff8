"""`wkb.ring_segments` decodes a whole WKB column at once; for every
row it must give, in order and bit for bit, the segments of the
per-geometry path it replaces: `wkb.loads` + `core.all_rings` +
`predicates.segments_of_rings` (the oracle here). The cases cover
holes, several parts, big-endian WKB at either nesting level, rows
that give no segment, chunked and sliced arrays. No Spark needed."""
import struct

import numpy as np
import pyarrow as pa
import pytest

from areacity_query_geometry_spark.geom import core, predicates, wkb


def _ring(rng, n, cx=0.0, cy=0.0, r=1.0):
    a = np.sort(rng.uniform(0, 2 * np.pi, n))
    pts = np.column_stack((cx + r * np.cos(a), cy + r * np.sin(a)))
    return np.vstack([pts, pts[:1]])


def _poly(rings, bo):
    out = [struct.pack(bo + "BII", bo == "<", wkb.T_POLYGON, len(rings))]
    for r in rings:
        out.append(struct.pack(bo + "I", len(r)))
        out.append(np.ascontiguousarray(r, dtype=bo + "f8").tobytes())
    return b"".join(out)


def _dumps(geom, outer="<", inner=None):
    """WKB of `geom` with the outer header in byte order `outer` and
    the MultiPolygon parts in `inner` (one order, or one per part)."""
    if geom["type"] == "Polygon":
        return _poly(geom["rings"], outer)
    inner = inner or outer
    orders = [inner] * len(geom["polys"]) if isinstance(inner, str) \
        else inner
    return struct.pack(outer + "BII", outer == "<", wkb.T_MULTIPOLYGON,
                       len(geom["polys"])) + b"".join(
        _poly(rings, bo) for rings, bo in zip(geom["polys"], orders))


def _oracle(w):
    if not w:  # null, or b"" (which `wkb.loads` cannot read): no segment
        return np.zeros((0, 4))
    return predicates.segments_of_rings(core.all_rings(wkb.loads(w)))


def _check(rows, arr=None):
    """The decoder's (count, segs) over `arr` (default: `rows` as one
    binary array) equal the oracle's per-row segments, bit for bit."""
    count, segs = wkb.ring_segments(pa.array(rows, pa.binary())
                                    if arr is None else arr)
    want = [_oracle(w) for w in rows]
    assert count.dtype == np.int64 and segs.dtype == np.float64
    assert segs.shape == (count.sum(), 4)
    assert list(count) == [len(s) for s in want]
    flat = np.vstack(want) if want else np.zeros((0, 4))
    assert (segs.view(np.uint64) == flat.view(np.uint64)).all()
    return count, segs


def _shapes():
    rng = np.random.default_rng(5)
    shell = _ring(rng, 12, r=3.0)
    shell[2] = (-0.0, 1.5)  # the sign bit must survive
    holes = [_ring(rng, 5, -1.0, 0.0, 0.4), _ring(rng, 6, 1.0, 0.5, 0.3)]
    poly = {"type": "Polygon", "rings": [shell] + holes}
    multi = {"type": "MultiPolygon", "polys": [
        [_ring(rng, int(rng.integers(3, 9)), 10.0 * k, 5.0)]
        + [_ring(rng, 4, 10.0 * k, 5.0, 0.1)] * (k % 3)
        for k in range(5)]}
    return poly, multi


def test_polygon_with_holes_and_multipolygon_both_orders():
    poly, multi = _shapes()
    _check([wkb.dumps(poly), _dumps(poly, ">"),
            wkb.dumps(multi), _dumps(multi, ">"),
            _dumps(multi, "<", ">"), _dumps(multi, ">", "<")])


def test_mixed_endian_multipolygon():
    _, multi = _shapes()
    orders = ["<", ">", ">", "<", ">"]
    count, _ = _check([_dumps(multi, ">", orders),
                       _dumps(multi, "<", orders[::-1])])
    assert (count > 0).all()


def test_rows_without_segments():
    """Null, empty WKB, a 1-point and a 0-point ring, an empty
    MultiPolygon, Point and LineString give no segment; they sit
    between rows that do, which must keep their own."""
    poly, multi = _shapes()
    one = np.array([[0.5, 0.5]])
    rows = [wkb.dumps(poly), None,
            wkb.dumps({"type": "Polygon", "rings": [one]}),
            _dumps({"type": "Polygon", "rings": [one[:0]]}, ">"),
            wkb.dumps({"type": "MultiPolygon", "polys": []}),
            wkb.dumps(core.point(1.0, 2.0)),
            wkb.dumps(core.linestring(np.array([[0., 0.], [1., 1.]]))),
            _dumps(multi, ">", "<")]
    count, _ = _check(rows)
    assert list(count[1:7]) == [0] * 6
    count, segs = wkb.ring_segments(pa.array(
        [b"", wkb.dumps(poly), b""], pa.binary()))
    assert list(count) == [0, len(_oracle(wkb.dumps(poly))), 0]


def test_other_types_raise():
    gc = struct.pack("<BII", 1, 7, 0)
    with pytest.raises(ValueError):
        wkb.loads(gc)  # the oracle's verdict
    with pytest.raises(ValueError):
        wkb.ring_segments(pa.array([wkb.dumps(_shapes()[0]), gc]))
    point_part = struct.pack("<BII", 1, wkb.T_MULTIPOLYGON, 1) \
        + wkb.dumps(core.point(1.0, 2.0))
    with pytest.raises(ValueError):
        wkb.ring_segments(pa.array([point_part]))
    with pytest.raises(ValueError):
        wkb.ring_segments(pa.array([wkb.dumps(_shapes()[0])[:-3]]))


def test_chunked_sliced_and_large_binary():
    poly, multi = _shapes()
    rows = [wkb.dumps(poly), None, _dumps(multi, ">", "<"), b"",
            _dumps(poly, ">"), wkb.dumps(multi)]
    _check(rows, pa.chunked_array([pa.array(rows[:2], pa.binary()),
                                   pa.array([], pa.binary()),
                                   pa.array(rows[2:], pa.binary())]))
    _check(rows, pa.array(rows, pa.large_binary()))
    _check(rows[2:5], pa.array(rows, pa.binary()).slice(2, 3))
    _check(rows[1:], pa.chunked_array(
        [pa.array(rows, pa.large_binary()).slice(1)]))
    count, segs = wkb.ring_segments(pa.chunked_array([], pa.binary()))
    assert count.shape == (0,) and segs.shape == (0, 4)


def test_random_rows():
    """Many random rows in one call: the vectorized header walk must
    keep every row's rings apart whatever their part and ring counts."""
    rng = np.random.default_rng(11)
    rows = []
    for i in range(300):
        k = int(rng.integers(0, 4))
        polys = [[_ring(rng, int(rng.integers(1, 7)), float(i), float(p))
                  for _ in range(int(rng.integers(0, 4)))]
                 for p in range(max(k, 1))]
        bo = "<" if rng.random() < 0.5 else ">"
        if k == 0:
            rows.append(_dumps({"type": "Polygon", "rings": polys[0]}, bo))
        else:
            rows.append(_dumps({"type": "MultiPolygon", "polys": polys}, bo,
                               ["<" if rng.random() < 0.5 else ">"
                                for _ in polys]))
    rows[::37] = [None] * len(rows[::37])
    _check(rows)
