"""GIF (LZW) codec on pure stdlib + numpy — the animated-frame path.

Beside BMP, PNG/WAV and baseline JPEG, GIF is the last
container this environment can decode without media libraries: LZW is
pure bit twiddling (public GIF89a specification layout). It matters
here because GIF is the one ANIMATED format in reach — it gives the
frame-sampling pipeline REAL frames to sample (``multimodal.
sample_gif_frames``) instead of byte-stride fakes.

- **decoder** (``decode_gif_frames``): header + logical screen
  descriptor, global/local color tables, graphic-control extensions
  (delay, disposal, transparency), interlace de-interleave (the
  4-pass row order), GIF-variant LZW (LSB-first bit packing, clear /
  end codes, 12-bit cap) and frame compositing onto the logical
  screen (disposal none/keep and restore-background; the rare
  restore-previous raises ``DecodeUnavailable`` honestly). Corrupt
  payloads — truncated blocks, out-of-range LZW codes, frames outside
  the canvas, missing palettes — raise ``DecodeUnavailable``, never
  slice/struct errors, so per-row failure isolation holds upstream.
- **encoder** (``encode_gif``): GIF89a with a global palette built
  from the frames' actual colors (>256 distinct colors raises — real
  quantization needs a media library and is out of honest scope),
  optional per-frame delays, optional interlacing, full-canvas frames
  with disposal=none so composited decode equals the input — which
  makes encode→decode roundtrips exact and property-testable
  (tests/test_extensions.py), the same discipline as the
  BMP/PNG/JPEG/WAV suites.

No reference parity (server.js has no media path); this module is the
mandated LLM-pipeline multimodal surface (SURVEY.md §2 extension).
"""

from __future__ import annotations

import struct

from node_js_etl_processor_spark.operators.multimodal import DecodeUnavailable

GIF_MAGICS = (b"GIF87a", b"GIF89a")

#: Interlace passes: (first row, row step) in pass order (GIF89a spec).
_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))

_MAX_CODES = 4096  # 12-bit LZW cap


# --------------------------------------------------------------- LZW


def _lzw_decode(mcs: int, data: bytes, expected: int) -> bytes:
    """GIF-variant LZW: LSB-first bit stream, clear/end codes, code
    width grows when the dictionary fills its current width, capped at
    12 bits until the next clear."""
    if not 2 <= mcs <= 8:  # roots are palette indices, so <= 256 of them
        raise DecodeUnavailable(f"GIF LZW min code size {mcs} out of range")
    clear = 1 << mcs
    end = clear + 1
    fresh = [bytes([i]) for i in range(clear)] + [b"", b""]
    table = list(fresh)
    code_size = mcs + 1
    out = bytearray()
    prev: bytes | None = None
    bitpos = 0
    total_bits = len(data) * 8
    while len(out) < expected:
        if bitpos + code_size > total_bits:
            raise DecodeUnavailable("GIF LZW stream ended early")
        byte_i = bitpos >> 3
        window = int.from_bytes(data[byte_i : byte_i + 3], "little")
        code = (window >> (bitpos & 7)) & ((1 << code_size) - 1)
        bitpos += code_size
        if code == clear:
            table = list(fresh)
            code_size = mcs + 1
            prev = None
            continue
        if code == end:
            break
        if prev is None:
            if code >= len(table):
                raise DecodeUnavailable("GIF LZW first code out of range")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            if len(table) < _MAX_CODES:
                table.append(prev + entry[:1])
        elif code == len(table) and len(table) < _MAX_CODES:
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise DecodeUnavailable("GIF LZW code out of range")
        out += entry
        prev = entry
        # width bump one entry EARLY: the decoder's table trails the
        # encoder's by one (it can't build the entry for the current
        # code until the next arrives), so when len(table) hits
        # 2^code_size - 1 the encoder is already at 2^code_size
        if len(table) == (1 << code_size) - 1 and code_size < 12:
            code_size += 1
    if len(out) < expected:
        raise DecodeUnavailable(
            f"GIF LZW produced {len(out)} of {expected} pixels"
        )
    return bytes(out[:expected])


def _lzw_encode(mcs: int, indices: bytes) -> bytes:
    """Encoder dual of ``_lzw_decode``: emits an initial clear code,
    re-clears when the table hits the 12-bit cap."""
    clear = 1 << mcs
    end = clear + 1
    out = bytearray()
    acc = 0
    nbits = 0
    code_size = mcs + 1

    def emit(code: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += code_size
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    def fresh_table() -> dict:
        return {bytes([i]): i for i in range(clear)}

    emit(clear)
    table = fresh_table()
    next_code = end + 1
    cur = b""
    for px in indices:
        nxt = cur + bytes([px])
        if nxt in table:
            cur = nxt
            continue
        emit(table[cur])
        if next_code < _MAX_CODES:
            table[nxt] = next_code
            next_code += 1
            if next_code == (1 << code_size) and code_size < 12:
                code_size += 1
        else:
            emit(clear)
            code_size = mcs + 1
            table = fresh_table()
            next_code = end + 1
        cur = nxt[-1:]
    if cur:
        emit(table[cur])
    emit(end)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


# ------------------------------------------------------------ decoder


def _read_subblocks(payload: bytes, pos: int) -> tuple[bytes, int]:
    chunks = []
    while True:
        if pos >= len(payload):
            raise DecodeUnavailable("GIF sub-blocks ran past payload end")
        n = payload[pos]
        pos += 1
        if n == 0:
            return b"".join(chunks), pos
        if pos + n > len(payload):
            raise DecodeUnavailable("truncated GIF sub-block")
        chunks.append(payload[pos : pos + n])
        pos += n


def _deinterlace(rows: "object") -> "object":
    import numpy as np

    h = rows.shape[0]
    order = []
    for first, step in _INTERLACE_PASSES:
        order.extend(range(first, h, step))
    out = np.empty_like(rows)
    out[np.asarray(order, dtype=np.int64)] = rows
    return out


def decode_gif_frames(payload: bytes) -> "tuple[list, list]":
    """Decode every frame of a (possibly animated) GIF, composited
    onto the logical screen. Returns ``(frames, delays)`` — H×W×3
    uint8 arrays and per-frame delays in centiseconds."""
    import numpy as np

    if payload is None or payload[:6] not in GIF_MAGICS:
        raise DecodeUnavailable("not a GIF payload")
    if len(payload) < 13:
        raise DecodeUnavailable("truncated GIF header")
    width, height, packed, bg_idx, _aspect = struct.unpack_from(
        "<HHBBB", payload, 6
    )
    if width == 0 or height == 0:
        raise DecodeUnavailable(f"corrupt GIF geometry ({width}x{height})")
    # Allocation bomb guard (found by adversarial fuzz): a 20-byte payload
    # can declare a 35852x29309 logical screen, making the decoder allocate
    # a ~3 GB canvas before any frame data is validated — an executor
    # memory/time bomb, worse than a crash. GIF LZW emits at most ~16k
    # output bytes per input byte (8/min_code_size codes per byte x
    # 4095-byte dictionary strings), so a raster the payload cannot possibly
    # fill is refused up front.
    if width * height > 16384 * len(payload):
        raise DecodeUnavailable(
            f"GIF logical screen {width}x{height} impossible for a "
            f"{len(payload)}-byte payload"
        )
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        if pos + 3 * n > len(payload):
            raise DecodeUnavailable("truncated GIF global color table")
        gct = np.frombuffer(payload[pos : pos + 3 * n], dtype=np.uint8).reshape(
            n, 3
        )
        pos += 3 * n
    bg_rgb = gct[bg_idx] if gct is not None and bg_idx < len(gct) else np.zeros(
        3, dtype=np.uint8
    )
    canvas = np.broadcast_to(bg_rgb, (height, width, 3)).astype(np.uint8).copy()

    frames: list = []
    delays: list = []
    gce = None  # (disposal, transparent_idx, delay_cs)
    while True:
        if pos >= len(payload):
            raise DecodeUnavailable("GIF ended without trailer")
        block = payload[pos]
        pos += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension
            if pos >= len(payload):
                raise DecodeUnavailable("truncated GIF extension")
            label = payload[pos]
            pos += 1
            data, pos = _read_subblocks(payload, pos)
            if label == 0xF9:
                if len(data) < 4:
                    raise DecodeUnavailable("short GIF graphic control block")
                gpacked, delay_cs = struct.unpack_from("<BH", data, 0)
                disposal = (gpacked >> 2) & 0x07
                t_idx = data[3] if gpacked & 0x01 else None
                gce = (disposal, t_idx, delay_cs)
            continue
        if block != 0x2C:
            raise DecodeUnavailable(f"unknown GIF block 0x{block:02x}")
        if pos + 9 > len(payload):
            raise DecodeUnavailable("truncated GIF image descriptor")
        left, top, iw, ih, ipacked = struct.unpack_from("<HHHHB", payload, pos)
        pos += 9
        if iw == 0 or ih == 0 or left + iw > width or top + ih > height:
            raise DecodeUnavailable(
                f"GIF frame {iw}x{ih}@({left},{top}) outside "
                f"{width}x{height} canvas"
            )
        palette = gct
        if ipacked & 0x80:
            n = 2 << (ipacked & 0x07)
            if pos + 3 * n > len(payload):
                raise DecodeUnavailable("truncated GIF local color table")
            palette = np.frombuffer(
                payload[pos : pos + 3 * n], dtype=np.uint8
            ).reshape(n, 3)
            pos += 3 * n
        if palette is None:
            raise DecodeUnavailable("GIF frame has no color table")
        if pos >= len(payload):
            raise DecodeUnavailable("GIF frame missing LZW data")
        mcs = payload[pos]
        pos += 1
        lzw, pos = _read_subblocks(payload, pos)
        idx = np.frombuffer(
            _lzw_decode(mcs, lzw, iw * ih), dtype=np.uint8
        ).reshape(ih, iw)
        if idx.max(initial=0) >= len(palette):
            raise DecodeUnavailable("GIF pixel index outside color table")
        if ipacked & 0x40:
            idx = _deinterlace(idx)

        disposal, t_idx, delay_cs = gce if gce is not None else (0, None, 0)
        region = canvas[top : top + ih, left : left + iw]
        if t_idx is not None:
            mask = idx != t_idx
            region[mask] = palette[idx[mask]]
        else:
            region[:, :] = palette[idx]
        frames.append(canvas.copy())
        delays.append(delay_cs)
        if disposal == 2:
            canvas[top : top + ih, left : left + iw] = bg_rgb
        elif disposal == 3:
            raise DecodeUnavailable(
                "GIF restore-previous disposal not supported"
            )
        gce = None
    if not frames:
        raise DecodeUnavailable("GIF contains no image data")
    return frames, delays


def decode_gif(payload: bytes) -> "object":
    """First composited frame as H×W×3 uint8 — the ``decode_image``
    dispatch form (still images and thumbnails of animations)."""
    return decode_gif_frames(payload)[0][0]


# ------------------------------------------------------------ encoder


def encode_gif(
    frames: "list | object",
    delays: "list[int] | None" = None,
    interlace: bool = False,
) -> bytes:
    """Encode H×W×3 uint8 frame(s) as a GIF89a with one global
    palette built from the frames' actual colors (>256 distinct
    colors raises ValueError — palette quantization needs a media
    library). Full-canvas frames with disposal=none, so
    ``decode_gif_frames`` composites back to exactly the input."""
    import numpy as np

    if hasattr(frames, "ndim"):
        frames = [frames]
    if not frames:
        raise ValueError("encode_gif: no frames")
    arrs = [np.asarray(f, dtype=np.uint8) for f in frames]
    h, w = arrs[0].shape[:2]
    if any(a.shape != (h, w, 3) for a in arrs):
        raise ValueError("encode_gif: frames must share an HxWx3 shape")
    if delays is None:
        delays = [0] * len(arrs)
    if len(delays) != len(arrs):
        raise ValueError(
            f"encode_gif: {len(delays)} delays for {len(arrs)} frames "
            "(zip truncation would silently drop frames)"
        )
    # one vectorized palette pass: distinct colors AND each pixel's
    # palette index come from the same np.unique call (per-pixel
    # Python dict lookups would dominate resize_image on real rasters)
    allpx = np.concatenate([a.reshape(-1, 3) for a in arrs])
    colors, inverse = np.unique(allpx, axis=0, return_inverse=True)
    if len(colors) > 256:
        raise ValueError(
            f"encode_gif: {len(colors)} distinct colors > 256 "
            "(quantization out of scope)"
        )
    # palette size must be a power of two >= 2
    bits = max(1, int(len(colors) - 1).bit_length())
    pal = np.zeros((1 << bits, 3), dtype=np.uint8)
    pal[: len(colors)] = colors
    frame_idx = inverse.astype(np.uint8).reshape(len(arrs), h, w)

    out = bytearray()
    out += b"GIF89a"
    out += struct.pack("<HHBBB", w, h, 0x80 | ((bits - 1) & 0x07), 0, 0)
    out += pal.tobytes()
    mcs = max(2, bits)
    for frame_no, delay in enumerate(delays):
        if delay:
            out += b"\x21\xf9" + struct.pack("<BBHB", 4, 0, delay, 0) + b"\x00"
        out += b"\x2c" + struct.pack(
            "<HHHHB", 0, 0, w, h, 0x40 if interlace else 0
        )
        flat = frame_idx[frame_no]
        if interlace:
            order = []
            for first, step in _INTERLACE_PASSES:
                order.extend(range(first, h, step))
            flat = flat[np.asarray(order, dtype=np.int64)]
        lzw = _lzw_encode(mcs, flat.tobytes())
        out.append(mcs)
        for i in range(0, len(lzw), 255):
            chunk = lzw[i : i + 255]
            out.append(len(chunk))
            out += chunk
        out.append(0)
    out.append(0x3B)
    return bytes(out)
