"""Minimal WKB (well-known binary) codec for Point / LineString /
Polygon / MultiPolygon, little-endian, 2-D.

Standard OGC WKB layout (public spec): byte order flag (1 = LE),
uint32 geometry type (1 point, 2 linestring, 3 polygon, 6 multipolygon),
then type-specific payload. This replaces the reference's reliance on
JTS WKBWriter/WKBReader (/root/reference/AreaCityQuery.java:253-258,
970-980) — geometry travels through Spark as `binary` columns.
"""
from __future__ import annotations

import struct

import numpy as np
import pyarrow as pa

from . import core

_LE = 1
T_POINT = 1
T_LINESTRING = 2
T_POLYGON = 3
T_MULTIPOLYGON = 6


def dumps(geom: dict) -> bytes:
    t = geom["type"]
    if t == "Point":
        x, y = geom["xy"]
        return struct.pack("<BIdd", _LE, T_POINT, x, y)
    if t == "LineString":
        xy = np.ascontiguousarray(geom["xy"], dtype="<f8")
        return struct.pack("<BII", _LE, T_LINESTRING, len(xy)) + xy.tobytes()
    if t == "Polygon":
        return _poly_body(geom["rings"])
    if t == "MultiPolygon":
        parts = [_poly_body(rings) for rings in geom["polys"]]
        return struct.pack("<BII", _LE, T_MULTIPOLYGON, len(parts)) + b"".join(parts)
    raise ValueError(f"unsupported geometry type for WKB: {t}")


def _poly_body(rings) -> bytes:
    out = [struct.pack("<BII", _LE, T_POLYGON, len(rings))]
    for r in rings:
        r = np.ascontiguousarray(r, dtype="<f8")
        out.append(struct.pack("<I", len(r)))
        out.append(r.tobytes())
    return b"".join(out)


def loads(buf: bytes) -> dict:
    geom, _ = _read(memoryview(buf), 0)
    return geom


def _read(mv: memoryview, off: int) -> tuple[dict, int]:
    bo = mv[off]
    fmt = "<" if bo == 1 else ">"
    (gtype,) = struct.unpack_from(fmt + "I", mv, off + 1)
    off += 5
    if gtype == T_POINT:
        x, y = struct.unpack_from(fmt + "dd", mv, off)
        return core.point(x, y), off + 16
    if gtype == T_LINESTRING:
        (n,) = struct.unpack_from(fmt + "I", mv, off)
        off += 4
        xy = np.frombuffer(mv, dtype=fmt + "f8", count=2 * n, offset=off)
        return core.linestring(xy.reshape(n, 2)), off + 16 * n
    if gtype == T_POLYGON:
        rings, off = _read_rings(mv, off, fmt)
        return {"type": "Polygon", "rings": rings}, off
    if gtype == T_MULTIPOLYGON:
        (nparts,) = struct.unpack_from(fmt + "I", mv, off)
        off += 4
        polys = []
        for _ in range(nparts):
            sub, off = _read(mv, off)
            polys.append(sub["rings"])
        return {"type": "MultiPolygon", "polys": polys}, off
    raise ValueError(f"unsupported WKB geometry type {gtype}")


def _read_rings(mv: memoryview, off: int, fmt: str):
    (nrings,) = struct.unpack_from(fmt + "I", mv, off)
    off += 4
    rings = []
    for _ in range(nrings):
        (n,) = struct.unpack_from(fmt + "I", mv, off)
        off += 4
        xy = np.frombuffer(mv, dtype=fmt + "f8", count=2 * n, offset=off)
        rings.append(xy.reshape(n, 2).astype(np.float64))
        off += 16 * n
    return rings, off


def ring_segments(arr) -> tuple[np.ndarray, np.ndarray]:
    """The ring segments of a column of WKB, every row decoded at once:
    (count, segs), count[i] (int64) the segments of row i and segs a
    (count.sum(), 4) float64 array of x1, y1, x2, y2 rows in row order.
    A row's segments are `predicates.segments_of_rings(core.all_rings(
    loads(w)))`, bit for bit: a ring's segments are its consecutive
    point pairs, rings of fewer than 2 points give none, and so do
    null or empty WKB, Point and LineString. Either byte order at
    either nesting level. Any other type (or a MultiPolygon part that
    is no Polygon, or a truncated row) raises ValueError.

    `arr` is a pyarrow binary or large_binary Array or ChunkedArray.
    The header walk is vectorized across rows and loops only over the
    part and ring index; all coordinates are gathered in one pass."""
    if isinstance(arr, pa.ChunkedArray):
        parts = [_ring_segments(c) for c in arr.chunks]
        if not parts:
            return np.zeros(0, np.int64), np.zeros((0, 4))
        return (np.concatenate([p[0] for p in parts]),
                np.concatenate([p[1] for p in parts]))
    return _ring_segments(arr)


def _words(data: np.ndarray, size: int) -> np.ndarray:
    """Word k = the `size` bytes of `data` at byte k, as an unsigned
    little-endian integer (a strided view, no copy)."""
    return np.ndarray((max(len(data) - size + 1, 0),), dtype=f"<u{size}",
                      buffer=data, strides=(1,))


def _ring_segments(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    if not (pa.types.is_binary(arr.type)
            or pa.types.is_large_binary(arr.type)):
        raise TypeError(f"WKB column must be binary, got {arr.type}")
    n = len(arr)
    count = np.zeros(n, np.int64)
    _, obuf, dbuf = arr.buffers()
    offs = np.frombuffer(
        obuf, np.int64 if pa.types.is_large_binary(arr.type) else np.int32
    )[arr.offset:arr.offset + n + 1].astype(np.int64)
    data = np.frombuffer(dbuf, np.uint8) if dbuf is not None \
        else np.zeros(0, np.uint8)
    u4, u8 = _words(data, 4), _words(data, 8)
    start, end = offs[:-1], offs[1:]
    ok = end > start
    if arr.null_count:
        ok &= arr.is_valid().to_numpy(zero_copy_only=False)
    row = np.nonzero(ok)[0]

    def u32(q, be, rows):
        # the uint32 at byte q of each of `rows`, in its byte order
        if (q + 4 > end[rows]).any():
            raise ValueError("truncated WKB")
        v = u4[q]
        v[be] = v[be].byteswap()
        return v.astype(np.int64)

    pos = start[row]
    be = data[pos] != 1
    typ = u32(pos + 1, be, row)
    bad = ~np.isin(typ, (T_POINT, T_LINESTRING, T_POLYGON, T_MULTIPOLYGON))
    if bad.any():
        raise ValueError(f"unsupported WKB geometry type {typ[bad][0]}")
    # the parts to walk: a Polygon row is one part whose header is the
    # row's own; a MultiPolygon row's parts follow its 9-byte header
    mp = typ == T_MULTIPOLYGON
    nparts = u32(pos[mp] + 5, be[mp], row[mp])
    poly = typ == T_POLYGON
    prow = np.concatenate((row[poly], row[mp]))
    cur = np.concatenate((pos[poly], pos[mp] + 9))
    left = np.concatenate((np.ones(poly.sum(), np.int64), nparts))
    keep = left > 0
    prow, cur, left = prow[keep], cur[keep], left[keep]
    rings = []  # per step: (row, first coordinate byte, points, big-endian)
    while len(prow):
        if (cur + 9 > end[prow]).any():
            raise ValueError("truncated WKB")
        pbe = data[cur] != 1
        ptyp = u32(cur + 1, pbe, prow)
        if (ptyp != T_POLYGON).any():
            raise ValueError(f"unsupported WKB geometry type "
                             f"{ptyp[ptyp != T_POLYGON][0]} in a "
                             f"MultiPolygon")
        nr = u32(cur + 5, pbe, prow)
        cur = cur + 9
        act = np.arange(len(prow))
        j = 0
        while True:
            act = act[nr[act] > j]
            if not len(act):
                break
            c = cur[act]
            npt = u32(c, pbe[act], prow[act])
            c = c + 4
            rings.append((prow[act], c, npt, pbe[act]))
            cur[act] = c + 16 * npt
            if (cur[act] > end[prow[act]]).any():
                raise ValueError("truncated WKB")
            j += 1
        left -= 1
        keep = left > 0
        prow, cur, left = prow[keep], cur[keep], left[keep]
    if not rings:
        return count, np.zeros((0, 4))
    rrow, rpos, rnpt, rbe = (np.concatenate(c) for c in zip(*rings))
    # each row's rings were walked in order, so a stable sort by row
    # puts every ring in its place
    o = np.argsort(rrow, kind="stable")
    m = rnpt[o] >= 2
    rrow, rpos, nseg, rbe = rrow[o][m], rpos[o][m], rnpt[o][m] - 1, rbe[o][m]
    count[:] = np.bincount(rrow, weights=nseg, minlength=n)
    # segment k of a ring is its points k and k + 1: x1, y1, x2, y2 at
    # bytes 0, 8, 16 and 24 from the ring's k-th point
    ring_of = np.repeat(np.arange(len(nseg)), nseg)
    q = rpos[ring_of] + 16 * (np.arange(len(ring_of))
                              - (np.cumsum(nseg) - nseg)[ring_of])
    out = np.empty((len(q), 4), np.uint64)
    for k in range(4):
        out[:, k] = u8[q + 8 * k]
    sw = rbe[ring_of]
    out[sw] = out[sw].byteswap()
    return count, out.view(np.float64)
