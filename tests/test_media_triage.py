"""Codec reject-path triage (VERDICT r4 stretch #10): unsupported
container variants classify with documented reasons instead of
raising, and supported ones actually decode.
"""
from __future__ import annotations

import hashlib
import struct

import numpy as np

from areacity_query_geometry_spark.functions import media


def _gray_png(w=4, h=3, seed=b"x"):
    d = hashlib.sha256(seed).digest()
    reps = (w * h + len(d) - 1) // len(d)
    px = np.frombuffer((d * reps)[: w * h], dtype=np.uint8).reshape(h, w)
    return px, media.encode_png_gray8(px)


def test_supported_gray_png_decodes():
    px, blob = _gray_png()
    st, s = media.triage_image(blob)
    assert st == "ok:png-gray8"
    assert s == int(px.astype(np.int64).sum())


def test_interlaced_and_palette_png_reject():
    ihdr_i = struct.pack(">IIBBBBB", 4, 3, 8, 0, 0, 0, 1)
    blob_i = (media._PNG_SIG + media._png_chunk(b"IHDR", ihdr_i)
              + media._png_chunk(b"IEND", b""))
    assert media.triage_image(blob_i) == ("reject:png-interlaced", None)
    ihdr_p = struct.pack(">IIBBBBB", 4, 3, 8, 3, 0, 0, 0)
    blob_p = (media._PNG_SIG + media._png_chunk(b"IHDR", ihdr_p)
              + media._png_chunk(b"IEND", b""))
    assert media.triage_image(blob_p) == ("reject:png-palette", None)


def test_progressive_jpeg_rejects_baseline_classifies():
    sof2 = b"\xff\xc2" + struct.pack(">HBHHB", 11, 8, 3, 4, 1) + b"\x01\x11\x00"
    assert media.triage_image(b"\xff\xd8" + sof2 + b"\xff\xd9") \
        == ("reject:jpeg-progressive", None)
    sof0 = b"\xff\xc0" + struct.pack(">HBHHB", 11, 8, 3, 4, 1) + b"\x01\x11\x00"
    assert media.triage_image(b"\xff\xd8" + sof0 + b"\xff\xd9") \
        == ("ok:jpeg-baseline-header", None)


def test_truncated_png_ihdr_rejects():
    # signature + IHDR chunk header + 4 of its 13 data bytes: 20 bytes
    blob = media._PNG_SIG + struct.pack(">I", 13) + b"IHDR" + b"\x00" * 4
    assert len(blob) == 20
    assert media.triage_image(blob) == ("reject:png-malformed", None)


def _sof(marker: bytes) -> bytes:
    return marker + struct.pack(">HBHHB", 11, 8, 3, 4, 1) + b"\x01\x11\x00"


def test_jpeg_walker_skips_fill_bytes_and_standalone_markers():
    # fill bytes before the SOF2 marker
    assert media.triage_image(b"\xff\xd8\xff\xff\xff" + _sof(b"\xff\xc2")
                              + b"\xff\xd9") \
        == ("reject:jpeg-progressive", None)
    # an RST and a TEM marker (no length field) before a SOF0
    assert media.triage_image(b"\xff\xd8\xff\xd3\xff\x01"
                              + _sof(b"\xff\xc0")) \
        == ("ok:jpeg-baseline-header", None)
    # an APP0 segment between SOI and SOF2 is stepped over by length
    app0 = b"\xff\xe0" + struct.pack(">H", 6) + b"JFIF"
    assert media.triage_image(b"\xff\xd8" + app0 + _sof(b"\xff\xc2")) \
        == ("reject:jpeg-progressive", None)


def test_jpeg_truncated_segment_rejects():
    # APP0 claims 64 bytes, 4 follow; the SOF2 bytes sit inside the
    # claimed segment and must not be read as a marker
    blob = (b"\xff\xd8\xff\xe0" + struct.pack(">H", 64) + b"JFIF"
            + _sof(b"\xff\xc2"))
    assert media.triage_image(blob) == ("reject:jpeg-unsupported", None)
    assert media.triage_image(b"\xff\xd8\xff\xe0\x00") \
        == ("reject:jpeg-unsupported", None)


def test_png_bad_crc_and_corrupt_idat_reject():
    _, blob = _gray_png()
    bad_crc = bytearray(blob)
    bad_crc[-13] ^= 0xFF  # last byte of the IDAT chunk's CRC
    assert media.triage_image(bytes(bad_crc)) \
        == ("reject:png-malformed", None)
    ihdr = struct.pack(">IIBBBBB", 4, 3, 8, 0, 0, 0, 0)
    garbage_idat = (media._PNG_SIG + media._png_chunk(b"IHDR", ihdr)
                    + media._png_chunk(b"IDAT", b"not zlib")
                    + media._png_chunk(b"IEND", b""))
    assert media.triage_image(garbage_idat) \
        == ("reject:png-malformed", None)
    assert media.triage_image(blob[:-20]) == ("reject:png-malformed", None)


def test_unknown_container_rejects():
    assert media.triage_image(b"RIFFxxxxWAVE") \
        == ("reject:unknown-container", None)
    assert media.triage_image(b"") == ("reject:unknown-container", None)


def test_mixed_corpus_covers_all_variants(spark):
    spans = spark.createDataFrame(
        [(str(i), 1, f"blob://mix/{i}") for i in range(64)],
        "doc_id string, span_idx int, ref string")
    out = media.triage_images(media.synthesize_mixed_images(spans))
    counts = {r["status"]: r["n"] for r in
              out.groupBy("status").count().withColumnRenamed(
                  "count", "n").collect()}
    assert set(counts) == {"ok:png-gray8", "reject:png-interlaced",
                           "reject:png-palette", "reject:jpeg-progressive"}
    assert sum(counts.values()) == 64
    # deterministic variant assignment: first sha byte mod 4
    expect = {}
    for i in range(64):
        v = hashlib.sha256(f"blob://mix/{i}".encode()).digest()[0] % 4
        k = ["ok:png-gray8", "reject:png-interlaced", "reject:png-palette",
             "reject:jpeg-progressive"][v]
        expect[k] = expect.get(k, 0) + 1
    assert counts == expect
