"""Baseline TIFF codecs over the opaque-binary media model.

The sixth REAL image family (BMP/PNG/JPEG/GIF/netpbm/TIFF). TIFF's
substance is structural, not entropy coding: a byte-order-flexible
container (``II`` little-endian / ``MM`` big-endian), an IFD walk of
12-byte tagged entries whose values live inline when they fit in 4
bytes and behind offsets otherwise, and strip-segmented rasters
(RowsPerStrip / StripOffsets / StripByteCounts). This module
implements the uncompressed baseline subset: 8-bit grayscale
(PhotometricInterpretation 1) and 8-bit RGB (2), compression 1
(none), both byte orders, multi-strip rasters.

Same contract as every media kernel: malformed or unsupported-flavor
payloads raise ``DecodeUnavailable`` (one ok=false row in the
distributed pass); two chained mapInPandas passes, zero shuffles.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from node_js_etl_processor_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    DecodeUnavailable,
)

# Baseline tag ids.
_T_WIDTH = 256
_T_HEIGHT = 257
_T_BITS = 258
_T_COMPRESSION = 259
_T_PHOTOMETRIC = 262
_T_STRIP_OFFSETS = 273
_T_SPP = 277
_T_ROWS_PER_STRIP = 278
_T_STRIP_COUNTS = 279

_TYPE_SIZES = {1: 1, 3: 2, 4: 4}  # BYTE, SHORT, LONG


def _read_values(payload: bytes, eo: str, typ: int, count: int, raw: bytes):
    """Decode an IFD entry's value list: inline when it fits 4 bytes,
    else behind the LONG offset in ``raw``."""
    size = _TYPE_SIZES.get(typ)
    if size is None:
        raise DecodeUnavailable(f"unsupported TIFF entry type {typ}")
    if count < 1:
        raise DecodeUnavailable("empty TIFF entry value list")
    total = size * count
    if total <= 4:
        buf = raw[:total]
    else:
        (off,) = struct.unpack(eo + "I", raw)
        if off + total > len(payload):
            raise DecodeUnavailable("TIFF value offset out of bounds")
        buf = payload[off : off + total]
    fmt = {1: "B", 3: "H", 4: "I"}[typ]
    return list(struct.unpack(eo + fmt * count, buf))


def decode_tiff(payload: bytes) -> "tuple[object, str, int]":
    """Decode a baseline uncompressed TIFF into ((h, w) uint8 gray or
    (h, w, 3) uint8 RGB, byte-order string 'II'|'MM', strip count).
    Any other flavor — compressed, deep samples, planar, foreign
    formats — raises DecodeUnavailable."""
    import numpy as np

    if payload is None or len(payload) < 8:
        raise DecodeUnavailable("not a TIFF payload")
    order = payload[:2]
    if order == b"II":
        eo = "<"
    elif order == b"MM":
        eo = ">"
    else:
        raise DecodeUnavailable("not a TIFF payload")
    (magic,) = struct.unpack_from(eo + "H", payload, 2)
    if magic != 42:
        raise DecodeUnavailable("bad TIFF magic")
    (ifd_off,) = struct.unpack_from(eo + "I", payload, 4)
    if ifd_off + 2 > len(payload):
        raise DecodeUnavailable("TIFF IFD offset out of bounds")
    (n_entries,) = struct.unpack_from(eo + "H", payload, ifd_off)
    if ifd_off + 2 + 12 * n_entries > len(payload):
        raise DecodeUnavailable("truncated TIFF IFD")
    tags: dict[int, list[int]] = {}
    for i in range(n_entries):
        base = ifd_off + 2 + 12 * i
        tag, typ, count = struct.unpack_from(eo + "HHI", payload, base)
        tags[tag] = _read_values(
            payload, eo, typ, count, payload[base + 8 : base + 12]
        )
    try:
        w = tags[_T_WIDTH][0]
        h = tags[_T_HEIGHT][0]
        offsets = tags[_T_STRIP_OFFSETS]
        counts = tags[_T_STRIP_COUNTS]
    except KeyError as e:
        raise DecodeUnavailable(f"TIFF missing required tag {e}") from e
    comp = tags.get(_T_COMPRESSION, [1])[0]
    photo = tags.get(_T_PHOTOMETRIC, [1])[0]
    spp = tags.get(_T_SPP, [1])[0]
    bits = tags.get(_T_BITS, [8])
    if comp != 1 or any(b != 8 for b in bits):
        raise DecodeUnavailable(
            f"unsupported TIFF flavor (compression={comp}, bits={bits})"
        )
    if (photo, spp) not in ((1, 1), (2, 3)):
        raise DecodeUnavailable(
            f"unsupported TIFF color (photometric={photo}, spp={spp})"
        )
    if len(offsets) != len(counts):
        raise DecodeUnavailable("TIFF strip tables disagree")
    if w <= 0 or h <= 0:
        raise DecodeUnavailable("corrupt TIFF geometry")
    raster = bytearray()
    for off, cnt in zip(offsets, counts):
        if off + cnt > len(payload):
            raise DecodeUnavailable("TIFF strip out of bounds")
        raster += payload[off : off + cnt]
    need = w * h * spp
    if len(raster) < need:
        raise DecodeUnavailable("truncated TIFF raster")
    arr = np.frombuffer(bytes(raster), dtype=np.uint8, count=need)
    if spp == 3:
        return arr.reshape(h, w, 3), order.decode(), len(offsets)
    return arr.reshape(h, w), order.decode(), len(offsets)


def encode_tiff(
    pixels: "object", byte_order: str = "II", rows_per_strip: int | None = None
) -> bytes:
    """Encode a (h, w) gray or (h, w, 3) RGB uint8 array as a baseline
    uncompressed TIFF in either byte order; ``rows_per_strip``
    segments the raster into multiple strips (default: single strip)
    — multi-strip output exercises the decoder's strip reassembly."""
    import numpy as np

    arr = np.asarray(pixels, dtype=np.uint8)
    if byte_order not in ("II", "MM"):
        raise ValueError("byte_order must be 'II' or 'MM'")
    eo = "<" if byte_order == "II" else ">"
    color = arr.ndim == 3
    if color and arr.shape[2] != 3:
        raise ValueError("RGB TIFF needs (h, w, 3)")
    h, w = arr.shape[:2]
    spp = 3 if color else 1
    rps = rows_per_strip or h
    raster = arr.reshape(-1).tobytes()
    row_bytes = w * spp
    strips = [
        raster[r * row_bytes : min(r + rps, h) * row_bytes]
        for r in range(0, h, rps)
    ]

    def entry(tag, typ, count, value_bytes):
        return struct.pack(eo + "HHI", tag, typ, count) + value_bytes.ljust(
            4, b"\x00"
        )

    # layout: header(8) | strips | [bits table for RGB] | offset/count
    # tables (if >1 strip each needs LONG arrays) | IFD
    pos = 8
    strip_offsets = []
    for s in strips:
        strip_offsets.append(pos)
        pos += len(s)
    extra = b""
    bits_off = None
    if color:
        bits_off = pos
        extra += struct.pack(eo + "HHH", 8, 8, 8)
        pos += 6
    off_tab_off = cnt_tab_off = None
    if len(strips) > 1:
        off_tab_off = pos
        extra += struct.pack(eo + "I" * len(strips), *strip_offsets)
        pos += 4 * len(strips)
        cnt_tab_off = pos
        extra += struct.pack(eo + "I" * len(strips), *[len(s) for s in strips])
        pos += 4 * len(strips)
    ifd_off = pos

    def long_val(v):
        return struct.pack(eo + "I", v)

    def short_val(v):
        return struct.pack(eo + "H", v)

    entries = [
        entry(_T_WIDTH, 4, 1, long_val(w)),
        entry(_T_HEIGHT, 4, 1, long_val(h)),
        entry(
            _T_BITS, 3, spp,
            struct.pack(eo + "I", bits_off) if color else short_val(8),
        ),
        entry(_T_COMPRESSION, 3, 1, short_val(1)),
        entry(_T_PHOTOMETRIC, 3, 1, short_val(2 if color else 1)),
        entry(
            _T_STRIP_OFFSETS, 4, len(strips),
            long_val(strip_offsets[0]) if len(strips) == 1
            else struct.pack(eo + "I", off_tab_off),
        ),
        entry(_T_SPP, 3, 1, short_val(spp)),
        entry(_T_ROWS_PER_STRIP, 4, 1, long_val(rps)),
        entry(
            _T_STRIP_COUNTS, 4, len(strips),
            long_val(len(strips[0])) if len(strips) == 1
            else struct.pack(eo + "I", cnt_tab_off),
        ),
    ]
    entries.sort(key=lambda e: struct.unpack(eo + "H", e[:2])[0])
    ifd = (
        struct.pack(eo + "H", len(entries))
        + b"".join(entries)
        + struct.pack(eo + "I", 0)
    )
    header = (
        (b"II" if byte_order == "II" else b"MM")
        + struct.pack(eo + "H", 42)
        + struct.pack(eo + "I", ifd_off)
    )
    return header + b"".join(strips) + extra + ifd


TIFF_FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("ok", StringType(), False),
        StructField("byte_order", StringType(), True),
        StructField("fmt", StringType(), True),
        StructField("width", LongType(), True),
        StructField("height", LongType(), True),
        StructField("n_strips", LongType(), True),
        StructField("px_sum", LongType(), True),
        StructField("raster_md5", StringType(), True),
    ]
)


def synth_tiff_media(documents: DataFrame) -> DataFrame:
    """Deterministic TIFF payloads per document: doc_id%4 selects
    (II RGB single-strip, MM RGB single-strip, II gray MULTI-strip
    with rows_per_strip=2, MM gray multi-strip), geometry
    w=3+doc_id%6 × h=2+doc_id%5, solid fills as in the netpbm family,
    encoded through the REAL ``encode_tiff``. Every doc_id%11==0 row
    carries a REAL netpbm payload instead — foreign-format rejection
    under the gate."""
    import numpy as np

    from node_js_etl_processor_spark.operators.media_harness import (
        per_doc,
        synth_media,
    )
    from node_js_etl_processor_spark.operators.netpbm import encode_netpbm

    def make_row(did: int):
        w, h = 3 + did % 6, 2 + did % 5
        if did % 11 == 0:
            return (
                "image/x-portable-graymap",
                encode_netpbm(np.zeros((h, w), np.uint8), "P5"),
            )
        v = did % 4
        order = "II" if v in (0, 2) else "MM"
        if v in (0, 1):
            px = np.full(
                (h, w, 3),
                ((did * 37) % 256, (did * 53) % 256, (did * 71) % 256),
                dtype=np.uint8,
            )
            return "image/tiff", encode_tiff(px, order)
        px = np.full((h, w), (did * 29) % 256, dtype=np.uint8)
        return "image/tiff", encode_tiff(px, order, rows_per_strip=2)

    return synth_media(documents, per_doc(make_row), "image")


def tiff_features(media: DataFrame) -> DataFrame:
    """Distributed TIFF feature pass: real IFD walk + strip reassembly
    per payload, exact pixel sums and hex-md5 raster digests (the
    GIF/video/netpbm convention)."""
    import hashlib

    import numpy as np

    from node_js_etl_processor_spark.operators.media_harness import (
        media_features,
    )

    def extract(payload):
        arr, order, n_strips = decode_tiff(payload)
        return [
            {
                "byte_order": order,
                "fmt": "rgb" if arr.ndim == 3 else "gray",
                "height": int(arr.shape[0]),
                "width": int(arr.shape[1]),
                "n_strips": n_strips,
                "px_sum": int(arr.astype(np.int64).sum()),
                "raster_md5": hashlib.md5(
                    arr.reshape(-1).tobytes().hex().encode()
                ).hexdigest(),
            }
        ]

    return media_features(media, TIFF_FEATURE_SCHEMA, extract)


def q_tiff_features(documents: DataFrame) -> DataFrame:
    """Declared query: the full distributed TIFF loop —
    ``synth_tiff_media`` (real encode: both byte orders, RGB and
    multi-strip gray) → ``tiff_features`` (real IFD walk + strip
    reassembly). The DuckDB oracle recomputes byte order, geometry,
    strip counts (ceil(h/2) for the multi-strip variants), exact
    pixel sums and raster digests closed-form from doc_id, and
    replays the netpbm-rejection lane — so both endiannesses, inline
    vs offset IFD values, strip segmentation and foreign-format
    rejection are all differentially verified."""
    return tiff_features(synth_tiff_media(documents)).orderBy("media_id")
