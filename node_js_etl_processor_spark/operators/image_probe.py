"""Image-format dispatch: headers-only triage across every
raster container the engine decodes — netpbm (P2/P3/P5/P6), BMP,
PNG, JPEG, GIF, TIFF — plus recognized-but-refused flavors (WebP,
interlaced PNG, progressive JPEG, compressed BMP/TIFF, P1/P4
bitmaps), mirroring the audio dispatch (``operators/audio.py``
``probe_audio`` / ``q_audio_probe``): a 100 TB image lake is triaged
by magic + header parse FIRST, and only then routed to the right
format-specific decode pass — decoding pixels to learn a payload's
geometry would be the scan-everything anti-plan.

Also the engine's unified ``decode_raster`` entry point: one dispatch
from payload magic to the six real decoders (netpbm/TIFF here,
BMP/PNG/JPEG/GIF via ``multimodal.decode_image``), so raster
consumers — the perceptual-hash dedup family in ``phash.py`` —
operate on MIXED-format corpora instead of assuming one container.

Parity note: the reference engine (reference server.js:1-301) has no
media surface at all; this module extends the media family
(SURVEY.md §2b) with the dispatch tier the audio side already has.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StringType, StructField, StructType

from .multimodal import DecodeUnavailable

IMAGE_PROBE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("ok", StringType(), False),
        StructField("container", StringType(), True),
        StructField("flavor", StringType(), True),
        StructField("width", LongType(), True),
        StructField("height", LongType(), True),
        StructField("n_channels", LongType(), True),
        StructField("bit_depth", LongType(), True),
    ]
)

_PNG_SIG = b"\x89PNG\r\n\x1a\n"

#: the recognized-but-refused WebP fixture every synth and test
#: shares — a minimal RIFF container whose fourCC the probe names
#: (ok=false, container='webp') but no decoder accepts
WEBP_STUB = b"RIFF\x24\x00\x00\x00WEBPVP8 " + bytes(8)


def _recognized_image_container(payload: bytes) -> "str | None":
    """Name the container of a payload the probe REFUSED — the honest
    boundary row (ok=false WITH the container named), same contract as
    the audio probe's ``_KNOWN_UNSUPPORTED`` table. Returns None for
    junk the probe does not even recognize."""
    b = payload if payload is not None else b""
    if len(b) >= 2 and b[0:1] == b"P" and b[1:2].isdigit():
        return "netpbm"
    if b[:2] == b"BM":
        return "bmp"
    if b[:8] == _PNG_SIG:
        return "png"
    if b[:2] == b"\xff\xd8":
        return "jpeg"
    if b[:6] in (b"GIF87a", b"GIF89a"):
        return "gif"
    if b[:2] in (b"II", b"MM") and len(b) >= 4:
        (magic,) = struct.unpack_from(("<" if b[:2] == b"II" else ">") + "H", b, 2)
        if magic == 42:
            return "tiff"
    if b[:4] == b"RIFF" and b[8:12] == b"WEBP":
        return "webp"
    return None


def probe_image(payload: bytes) -> "tuple[str, str, int, int, int, int]":
    """Identify an image payload WITHOUT decoding pixels: returns
    (container, flavor, width, height, n_channels, bit_depth).
    Dispatch covers exactly the flavors the engine's decoders accept;
    recognized-but-undecodable flavors (WebP always; interlaced or
    deep PNG; progressive JPEG; compressed or non-24-bit BMP;
    compressed/deep/planar TIFF; P1/P4 netpbm bitmaps; >8-bit netpbm)
    raise DecodeUnavailable — the distributed probe below preserves
    the recognition by naming the container on the ok=false row."""
    b = payload if payload is not None else b""
    if len(b) >= 2 and b[0:1] == b"P" and b[1:2].isdigit():
        return _probe_netpbm(b)
    if b[:2] == b"BM":
        return _probe_bmp(b)
    if b[:8] == _PNG_SIG:
        return _probe_png(b)
    if b[:2] == b"\xff\xd8":
        return _probe_jpeg(b)
    if b[:6] in (b"GIF87a", b"GIF89a"):
        return _probe_gif(b)
    if b[:2] in (b"II", b"MM"):
        return _probe_tiff(b)
    if b[:4] == b"RIFF" and b[8:12] == b"WEBP":
        raise DecodeUnavailable("WebP decode needs a codec library")
    raise DecodeUnavailable("unrecognized image payload")


def _probe_netpbm(b: bytes) -> "tuple[str, str, int, int, int, int]":
    from .netpbm import _header_tokens

    magic = b[:2].decode("ascii", "replace")
    if magic in ("P1", "P4"):
        raise DecodeUnavailable(f"netpbm bitmap flavor {magic} unsupported")
    if magic not in ("P2", "P3", "P5", "P6"):
        raise DecodeUnavailable(f"unsupported netpbm magic {magic!r}")
    (w, h, maxval), _off = _header_tokens(b, 3)
    if w <= 0 or h <= 0:
        raise DecodeUnavailable(f"corrupt netpbm geometry ({w}x{h})")
    if not (0 < maxval <= 255):
        raise DecodeUnavailable(f"unsupported netpbm maxval {maxval}")
    nch = 3 if magic in ("P3", "P6") else 1
    return "netpbm", magic, w, h, nch, 8


def _probe_bmp(b: bytes) -> "tuple[str, str, int, int, int, int]":
    if len(b) < 54:
        raise DecodeUnavailable("truncated BMP header")
    _magic, _fsize, _r1, _r2, _offset = struct.unpack_from("<2sIHHI", b, 0)
    _hsz, w, h, _planes, bpp, comp = struct.unpack_from("<IiiHHI", b, 14)
    if bpp != 24 or comp != 0:
        raise DecodeUnavailable(f"unsupported BMP flavor (bpp={bpp}, comp={comp})")
    if w <= 0 or h == 0:
        raise DecodeUnavailable(f"corrupt BMP geometry ({w}x{h})")
    return "bmp", "bgr24", w, abs(h), 3, 8


def _probe_png(b: bytes) -> "tuple[str, str, int, int, int, int]":
    from .multimodal import _png_chunks

    for ctype, data in _png_chunks(b):
        if ctype != b"IHDR":
            continue
        if len(data) != 13:
            raise DecodeUnavailable("corrupt PNG IHDR")
        w, h, depth, color, comp, _filt, interlace = struct.unpack(">IIBBBBB", data)
        if depth != 8 or color not in (2, 6) or interlace != 0 or comp != 0:
            raise DecodeUnavailable(
                f"unsupported PNG flavor (depth={depth}, color={color}, "
                f"interlace={interlace})"
            )
        if w <= 0 or h <= 0:
            raise DecodeUnavailable(f"corrupt PNG geometry ({w}x{h})")
        return "png", "rgb8" if color == 2 else "rgba8", w, h, 3 if color == 2 else 4, 8
    raise DecodeUnavailable("PNG missing IHDR")


def _probe_jpeg(b: bytes) -> "tuple[str, str, int, int, int, int]":
    # marker walk to the first SOF: baseline (SOF0) probes; progressive
    # (SOF2) and every other SOF family is a recognized refusal — the
    # same boundary as decode_jpeg
    pos, n = 2, len(b)
    while pos + 4 <= n:
        if b[pos] != 0xFF:
            raise DecodeUnavailable("JPEG marker expected")
        # spec-legal fill bytes: any marker may be preceded by extra
        # 0xFF bytes (ITU T.81 B.1.1.2) — consume them before reading
        # the marker id (decode_jpeg applies the same
        # rule so probe and decoder keep one acceptance boundary)
        while pos + 1 < n and b[pos + 1] == 0xFF:
            pos += 1
        if pos + 4 > n:
            break  # trailing fill/truncation → "ended without SOF"
        m = b[pos + 1]
        pos += 2
        if m == 0xD9 or m == 0xDA:
            break
        if m == 0x01 or 0xD0 <= m <= 0xD7:
            continue
        (seg_len,) = struct.unpack(">H", b[pos : pos + 2])
        if 0xC0 <= m <= 0xCF and m not in (0xC4, 0xC8, 0xCC):
            if pos + 2 + 6 > n:
                raise DecodeUnavailable("truncated JPEG SOF")
            prec, h, w, ncomp = struct.unpack(">BHHB", b[pos + 2 : pos + 8])
            if m != 0xC0:
                raise DecodeUnavailable(
                    f"unsupported JPEG SOF{m - 0xC0} (only baseline SOF0)"
                )
            if prec != 8 or w <= 0 or h <= 0:
                raise DecodeUnavailable("unsupported JPEG precision/geometry")
            return "jpeg", "baseline", w, h, ncomp, 8
        pos += seg_len
    raise DecodeUnavailable("JPEG ended without SOF")


def _probe_gif(b: bytes) -> "tuple[str, str, int, int, int, int]":
    if len(b) < 13:
        raise DecodeUnavailable("truncated GIF header")
    w, h, _packed, _bg, _aspect = struct.unpack_from("<HHBBB", b, 6)
    if w == 0 or h == 0:
        raise DecodeUnavailable(f"corrupt GIF geometry ({w}x{h})")
    return "gif", b[3:6].decode("ascii"), w, h, 3, 8


def _probe_tiff(b: bytes) -> "tuple[str, str, int, int, int, int]":
    from .tiff import (
        _T_BITS,
        _T_COMPRESSION,
        _T_HEIGHT,
        _T_PHOTOMETRIC,
        _T_SPP,
        _T_WIDTH,
        _read_values,
    )

    if len(b) < 8:
        raise DecodeUnavailable("not a TIFF payload")
    eo = "<" if b[:2] == b"II" else ">"
    (magic,) = struct.unpack_from(eo + "H", b, 2)
    if magic != 42:
        raise DecodeUnavailable("bad TIFF magic")
    (ifd_off,) = struct.unpack_from(eo + "I", b, 4)
    if ifd_off + 2 > len(b):
        raise DecodeUnavailable("TIFF IFD offset out of bounds")
    (n_entries,) = struct.unpack_from(eo + "H", b, ifd_off)
    if ifd_off + 2 + 12 * n_entries > len(b):
        raise DecodeUnavailable("truncated TIFF IFD")
    tags: "dict[int, list[int]]" = {}
    for i in range(n_entries):
        base = ifd_off + 2 + 12 * i
        tag, typ, count = struct.unpack_from(eo + "HHI", b, base)
        tags[tag] = _read_values(b, eo, typ, count, b[base + 8 : base + 12])
    try:
        w, h = tags[_T_WIDTH][0], tags[_T_HEIGHT][0]
    except KeyError as e:
        raise DecodeUnavailable(f"TIFF missing required tag {e}") from e
    comp = tags.get(_T_COMPRESSION, [1])[0]
    photo = tags.get(_T_PHOTOMETRIC, [1])[0]
    spp = tags.get(_T_SPP, [1])[0]
    bits = tags.get(_T_BITS, [8])
    if comp != 1 or any(v != 8 for v in bits):
        raise DecodeUnavailable(
            f"unsupported TIFF flavor (compression={comp}, bits={bits})"
        )
    if (photo, spp) not in ((1, 1), (2, 3)):
        raise DecodeUnavailable(
            f"unsupported TIFF color (photometric={photo}, spp={spp})"
        )
    if w <= 0 or h <= 0:
        raise DecodeUnavailable("corrupt TIFF geometry")
    return "tiff", b[:2].decode("ascii"), w, h, spp, 8


def decode_raster(payload: bytes) -> "object":
    """Unified raster decode: dispatch a payload of ANY supported
    container to its real decoder. Returns (h, w) uint8 gray or
    (h, w, 3) uint8 RGB; refusals and junk raise DecodeUnavailable.
    This is the entry point the perceptual-hash family uses, so image
    dedup runs over MIXED-format corpora — the probe above is the
    triage that tells a 100 TB pipeline which payloads will take this
    path at all."""
    b = payload if payload is not None else b""
    if len(b) >= 2 and b[0:1] == b"P" and b[1:2].isdigit():
        from .netpbm import decode_netpbm

        return decode_netpbm(b)[0]
    if b[:2] in (b"II", b"MM") and len(b) >= 4:
        (magic,) = struct.unpack_from(("<" if b[:2] == b"II" else ">") + "H", b, 2)
        if magic == 42:
            from .tiff import decode_tiff

            return decode_tiff(b)[0]
    from .multimodal import decode_image

    return decode_image(b)  # BMP / PNG / JPEG / GIF, else DecodeUnavailable


# ------------------------------------------------------- declared query

#: mixed-format probe synth geometry — closed-form in doc_id so the
#: oracle recomputes every probe column with integer arithmetic
PROBE_W = lambda did: 6 + did % 5  # noqa: E731
PROBE_H = lambda did: 4 + did % 4  # noqa: E731


def synth_mixed_image_media(documents: DataFrame) -> DataFrame:
    """Deterministic MIXED-FORMAT image payloads: doc_id%8 selects
    among the eight decodable container/flavor pairs (P5 gray, P6
    RGB, P2 ASCII gray, BMP bgr24, PNG rgb8, GIF89a, TIFF II gray,
    TIFF MM RGB) — all REAL encoders; every doc_id%11==0 row carries
    a WebP RIFF header (recognized container, no decoder — the honest
    boundary) and every doc_id%13==1 row a PROGRESSIVE JPEG SOF2 stub
    (a real-world flavor the baseline decoder refuses — recognized,
    named, refused). Geometry varies closed-form (w = 6 + did%5,
    h = 4 + did%4) so the header parse is pinned per row, not per
    format."""
    import numpy as np

    from .media_harness import per_doc, synth_media
    from .multimodal import encode_bmp, encode_png
    from .netpbm import encode_netpbm
    from .tiff import encode_tiff

    def make_row(did: int):
        if did % 11 == 0:
            return "image/webp", WEBP_STUB
        if did % 13 == 1:
            # SOI + minimal SOF2 segment: a structurally recognizable
            # progressive JPEG the probe must refuse BY NAME
            sof2 = struct.pack(">BHHB", 8, 8, 8, 3) + bytes(9)
            return (
                "image/jpeg",
                b"\xff\xd8\xff\xc2" + struct.pack(">H", 2 + len(sof2)) + sof2,
            )
        w, h = PROBE_W(did), PROBE_H(did)
        y, x = np.mgrid[0:h, 0:w]
        gray = ((x * 7 + y * 13 + did) % 251).astype(np.uint8)
        rgb = np.stack([gray, gray, gray], axis=2)
        v = did % 8
        if v == 0:
            return "image/x-portable-graymap", encode_netpbm(gray, "P5")
        if v == 1:
            return "image/x-portable-pixmap", encode_netpbm(rgb, "P6")
        if v == 2:
            return "image/x-portable-graymap", encode_netpbm(gray, "P2")
        if v == 3:
            return "image/bmp", encode_bmp(rgb)
        if v == 4:
            return "image/png", encode_png(rgb)
        if v == 5:
            from .gif import encode_gif

            # GIF needs a bounded palette: 2-level threshold raster
            return "image/gif", encode_gif(
                np.where(rgb >= 128, 200, 40).astype(np.uint8)
            )
        if v == 6:
            return "image/tiff", encode_tiff(gray, "II")
        return "image/tiff", encode_tiff(rgb, "MM")

    return synth_media(documents, per_doc(make_row), "image")


def image_probe_features(media: DataFrame) -> DataFrame:
    """Distributed image format dispatch: probe every payload's
    container/flavor/geometry from headers alone. Recognized-but-
    undecodable flavors surface as ok=false WITH the container named
    — the triage row a 100 TB image lake routes on. One zero-shuffle
    Arrow pass (the shared media kernel)."""
    from .media_harness import media_features

    def extract(payload):
        b = payload if payload is not None else b""
        try:
            cont, flavor, w, h, nch, bits = probe_image(b)
        except DecodeUnavailable:
            known = _recognized_image_container(b)
            if known is not None:
                return [{"ok": "false", "container": known}]
            raise
        return [
            {
                "container": cont,
                "flavor": flavor,
                "width": w,
                "height": h,
                "n_channels": nch,
                "bit_depth": bits,
            }
        ]

    return media_features(media, IMAGE_PROBE_SCHEMA, extract)


def q_image_probe(documents: DataFrame) -> DataFrame:
    """Declared query: the image
    format-dispatch loop — ``synth_mixed_image_media`` (eight REAL
    container/flavor pairs + two recognized refusals) →
    ``image_probe_features`` (magic + header parse, no pixel decode).
    The oracle recomputes container/flavor/width/height/channels/
    bit-depth closed-form from doc_id and replays the WebP and
    progressive-JPEG lanes as ok=false WITH the container named —
    pinning the dispatch table that routes a mixed image lake to the
    right decode pass, exactly as ``q_audio_probe`` pins the audio
    side."""
    return image_probe_features(synth_mixed_image_media(documents)).orderBy(
        "media_id"
    )
