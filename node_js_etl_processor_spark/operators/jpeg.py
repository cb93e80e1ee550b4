"""Baseline-sequential JFIF (JPEG) codec on stdlib struct + numpy.

Public-format implementation following the ITU-T T.81 structure —
the codec beside BMP and PNG/WAV:

- **decoder** (``decode_jpeg``): generic baseline — marker parse
  (APPn/DQT/SOF0/DHT/SOS/DRI), canonical Huffman tables built from
  each DHT's (bits, values), byte-stuffed entropy scan split at
  restart markers, DC prediction, zigzag dequantization, 8×8 IDCT via
  the orthonormal DCT-II basis matrix, integer-ratio chroma
  upsampling for any (h, v) sampling factors, JFIF YCbCr→RGB.
  Progressive (SOF2), arithmetic-coded, 12-bit and 16-bit-quant
  streams raise ``DecodeUnavailable`` like every codec this container
  lacks — corrupt payloads too, never executor errors.
- **encoder** (``encode_jpeg_baseline``): the 4:4:4 subset — level
  shift, blockwise DCT, uniform quantization (``quant=1`` is
  near-lossless, the roundtrip-test setting), zigzag run-length with
  EOB/ZRL, DC differences. Huffman tables are CONSTRUCTED fixed-length
  canonical codes (all 12 DC categories at 4 bits, all 162 (run,size)
  AC symbols at 8 bits — Kraft sums 0.75 and 0.633 < 1, so the codes
  are valid prefix codes and the forbidden all-ones code never
  occurs); they ride in the DHT segment like any table, so the output
  is standard-conforming baseline JFIF any decoder reads. Fixed-length
  tables trade compression (irrelevant here) for zero transcription
  risk vs hand-copying the Annex K typicals.

No reference parity (server.js has no media path); this module is the
mandated LLM-pipeline multimodal surface (SURVEY.md §2 extension).
"""

from __future__ import annotations

import struct

from node_js_etl_processor_spark.operators.multimodal import DecodeUnavailable

#: Zigzag order: raster index of the i-th zigzag coefficient (T.81 fig. 5).
ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]


def _dct_basis():
    import numpy as np

    c = np.zeros((8, 8))
    for u in range(8):
        a = np.sqrt(0.125) if u == 0 else 0.5
        for x in range(8):
            c[u, x] = a * np.cos((2 * x + 1) * u * np.pi / 16)
    return c


# --------------------------------------------------------------- decoder


def _huff_decode_table(bits: list[int], vals: list[int]) -> dict:
    """(length, code) → symbol map from a DHT's canonical spec."""
    table, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            if k >= len(vals):
                raise DecodeUnavailable("DHT count/values mismatch")
            table[(length, code)] = vals[k]
            k += 1
            code += 1
        if code > (1 << length):
            raise DecodeUnavailable("DHT violates Kraft inequality")
        code <<= 1
    return table


class _Bits:
    """MSB-first bit reader over one de-stuffed entropy segment."""

    __slots__ = ("d", "p", "b", "n", "over")

    def __init__(self, d: bytes):
        self.d, self.p, self.b, self.n, self.over = d, 0, 0, 0, 0

    def read(self, k: int) -> int:
        while self.n < k:
            if self.p < len(self.d):
                byte = self.d[self.p]
            else:
                byte = 0
                self.over += 1
                if self.over > 8:
                    raise DecodeUnavailable("entropy stream truncated")
            self.p += 1
            self.b = (self.b << 8) | byte
            self.n += 8
        self.n -= k
        return (self.b >> self.n) & ((1 << k) - 1)


def _decode_sym(br: _Bits, table: dict) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | br.read(1)
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise DecodeUnavailable("invalid Huffman code in scan")


def _extend(v: int, s: int) -> int:
    return v - (1 << s) + 1 if s and v < (1 << (s - 1)) else v


def _split_scan(data: bytes, pos: int):
    """De-stuff the entropy-coded bytes from ``pos``, splitting at
    RST markers; returns the list of segments (RST-interval chunks)."""
    segs, cur, n = [], bytearray(), len(data)
    while pos < n:
        b = data[pos]
        if b != 0xFF:
            cur.append(b)
            pos += 1
            continue
        nxt = data[pos + 1] if pos + 1 < n else 0xD9
        if nxt == 0x00:
            cur.append(0xFF)
            pos += 2
        elif 0xD0 <= nxt <= 0xD7:
            segs.append(bytes(cur))
            cur = bytearray()
            pos += 2
        else:
            break
    segs.append(bytes(cur))
    return segs


def _decode_block(br: _Bits, dctab: dict, actab: dict, qtab, pred: int):
    """One 8×8 block: Huffman → dequantized raster coefficients +
    the new DC predictor. ``qtab`` is in ZIGZAG order (as stored)."""
    import numpy as np

    s = _decode_sym(br, dctab)
    dc = pred + (_extend(br.read(s), s) if s else 0)
    zz = np.zeros(64)
    zz[0] = dc * qtab[0]
    i = 1
    while i < 64:
        rs = _decode_sym(br, actab)
        r, sz = rs >> 4, rs & 15
        if sz == 0:
            if r == 15:
                i += 16
                continue
            break  # EOB
        i += r
        if i > 63:
            raise DecodeUnavailable("AC run past block end")
        zz[i] = _extend(br.read(sz), sz) * qtab[i]
        i += 1
    blk = np.zeros(64)
    blk[ZIGZAG] = zz
    return blk.reshape(8, 8), dc


def decode_jpeg(payload: bytes) -> "object":
    """Decode a baseline-sequential JFIF payload to an H×W×3 uint8 RGB
    raster (grayscale replicated across channels)."""
    import numpy as np

    if payload is None or payload[:2] != b"\xff\xd8":
        raise DecodeUnavailable("not a JPEG (no SOI)")
    try:
        qt: dict[int, object] = {}
        hdc: dict[int, dict] = {}
        hac: dict[int, dict] = {}
        comps: list[dict] | None = None
        height = width = 0
        dri = 0
        pos, n = 2, len(payload)
        while pos < n:
            if payload[pos] != 0xFF:
                raise DecodeUnavailable("marker expected")
            # spec-legal fill bytes (ITU T.81 B.1.1.2): extra 0xFF
            # bytes may precede any marker — consume them so a padded
            # baseline JPEG decodes (same rule as _probe_jpeg's walk)
            while pos + 1 < n and payload[pos + 1] == 0xFF:
                pos += 1
            if pos + 1 >= n:
                raise DecodeUnavailable("truncated JPEG marker")
            m = payload[pos + 1]
            pos += 2
            if m == 0xD9:
                break
            if m == 0x01 or 0xD0 <= m <= 0xD7:
                continue
            (seg_len,) = struct.unpack(">H", payload[pos : pos + 2])
            seg = payload[pos + 2 : pos + seg_len]
            if m == 0xDB:  # DQT
                o = 0
                while o < len(seg):
                    pq, tq = seg[o] >> 4, seg[o] & 15
                    o += 1
                    if pq != 0:
                        raise DecodeUnavailable("16-bit quant tables unsupported")
                    qt[tq] = np.frombuffer(seg[o : o + 64], dtype=np.uint8).astype(
                        np.float64
                    )
                    o += 64
            elif m == 0xC4:  # DHT
                o = 0
                while o < len(seg):
                    tc, th = seg[o] >> 4, seg[o] & 15
                    o += 1
                    bits = list(seg[o : o + 16])
                    o += 16
                    cnt = sum(bits)
                    vals = list(seg[o : o + cnt])
                    o += cnt
                    (hac if tc else hdc)[th] = _huff_decode_table(bits, vals)
            elif m == 0xC0:  # SOF0: baseline sequential
                if seg[0] != 8:
                    raise DecodeUnavailable("only 8-bit precision supported")
                height, width = struct.unpack(">HH", seg[1:5])
                comps = []
                for i in range(seg[5]):
                    comps.append(
                        {
                            "id": seg[6 + 3 * i],
                            "h": seg[7 + 3 * i] >> 4,
                            "v": seg[7 + 3 * i] & 15,
                            "tq": seg[8 + 3 * i],
                        }
                    )
            elif m in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
                raise DecodeUnavailable("non-baseline-sequential JPEG unsupported")
            elif m == 0xDD:  # DRI
                (dri,) = struct.unpack(">H", seg[:2])
            elif m == 0xDA:  # SOS
                if comps is None:
                    raise DecodeUnavailable("SOS before SOF0")
                by_id = {c["id"]: c for c in comps}
                scomps = []
                for i in range(seg[0]):
                    c = by_id[seg[1 + 2 * i]]
                    c["dc"], c["ac"] = seg[2 + 2 * i] >> 4, seg[2 + 2 * i] & 15
                    scomps.append(c)
                return _decode_scan(
                    payload, pos + seg_len, scomps, height, width, qt, hdc, hac, dri
                )
            pos += seg_len
        raise DecodeUnavailable("no SOS scan found")
    except DecodeUnavailable:
        raise
    except Exception as exc:  # struct/index errors on corrupt payloads
        raise DecodeUnavailable(f"corrupt JPEG: {exc}") from exc


def _decode_scan(data, pos, comps, height, width, qt, hdc, hac, dri):
    import numpy as np

    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    for c in comps:
        if c["h"] < 1 or c["v"] < 1 or hmax % c["h"] or vmax % c["v"]:
            raise DecodeUnavailable("non-integer-ratio sampling factors")
    mcux = -(-width // (8 * hmax))
    mcuy = -(-height // (8 * vmax))
    planes = {
        c["id"]: np.zeros((mcuy * c["v"] * 8, mcux * c["h"] * 8)) for c in comps
    }
    preds = {c["id"]: 0 for c in comps}
    cbasis = _dct_basis()
    segs = _split_scan(data, pos)
    seg_i = 0
    br = _Bits(segs[0])
    for m in range(mcux * mcuy):
        if dri and m and m % dri == 0:
            seg_i += 1
            if seg_i >= len(segs):
                raise DecodeUnavailable("missing restart segment")
            br = _Bits(segs[seg_i])
            preds = {c["id"]: 0 for c in comps}
        my, mx = divmod(m, mcux)
        for c in comps:
            for by in range(c["v"]):
                for bx in range(c["h"]):
                    blk, preds[c["id"]] = _decode_block(
                        br, hdc[c["dc"]], hac[c["ac"]], qt[c["tq"]], preds[c["id"]]
                    )
                    px = cbasis.T @ blk @ cbasis + 128.0
                    y0 = (my * c["v"] + by) * 8
                    x0 = (mx * c["h"] + bx) * 8
                    planes[c["id"]][y0 : y0 + 8, x0 : x0 + 8] = px
    out = []
    for c in comps:
        p = planes[c["id"]]
        ry, rx = vmax // c["v"], hmax // c["h"]
        if ry > 1 or rx > 1:
            p = np.repeat(np.repeat(p, ry, axis=0), rx, axis=1)
        out.append(p[:height, :width])
    if len(out) == 1:
        y = np.clip(out[0].round(), 0, 255).astype(np.uint8)
        return np.dstack([y, y, y])
    if len(out) != 3:
        raise DecodeUnavailable("unsupported component count")
    y, cb, cr = out
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    return np.clip(np.dstack([r, g, b]).round(), 0, 255).astype(np.uint8)


# --------------------------------------------------------------- encoder

#: Constructed fixed-length Huffman specs (see module docstring):
#: 12 DC categories at 4 bits, 162 AC (run,size) symbols at 8 bits.
_DC_BITS = [0, 0, 0, 12] + [0] * 12
_DC_VALS = list(range(12))
_AC_BITS = [0] * 7 + [162] + [0] * 8
_AC_VALS = [0x00, 0xF0] + [
    (r << 4) | s for r in range(16) for s in range(1, 11)
]


def _huff_encode_table(bits: list[int], vals: list[int]) -> dict:
    table, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[vals[k]] = (code, length)
            k += 1
            code += 1
        code <<= 1
    return table


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.b = 0
        self.n = 0

    def write(self, code: int, length: int) -> None:
        self.b = (self.b << length) | code
        self.n += length
        while self.n >= 8:
            self.n -= 8
            byte = (self.b >> self.n) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)  # byte stuffing
        self.b &= (1 << self.n) - 1

    def flush(self) -> None:
        if self.n:
            self.write((1 << (8 - self.n)) - 1, 8 - self.n)  # 1-pad


def _category(v: int) -> int:
    return int(v).bit_length() if v >= 0 else int(-v).bit_length()


def _encode_block(bw, zz, dctab, actab, pred):
    diff = int(zz[0]) - pred
    s = _category(diff)
    bw.write(*dctab[s])
    if s:
        bw.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
    run = 0
    last_nz = 0
    for i in range(1, 64):
        if zz[i]:
            last_nz = i
    for i in range(1, last_nz + 1):
        v = int(zz[i])
        if v == 0:
            run += 1
            continue
        while run > 15:
            bw.write(*actab[0xF0])  # ZRL
            run -= 16
        s = _category(v)
        bw.write(*actab[(run << 4) | s])
        bw.write(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    if last_nz < 63:
        bw.write(*actab[0x00])  # EOB
    return int(zz[0])


def _pad_plane(comp, ph: int, pw: int):
    """Edge-replicate ``comp`` to (ph, pw)."""
    import numpy as np

    h, w = comp.shape
    p = np.empty((ph, pw))
    p[:h, :w] = comp
    p[h:, :w] = comp[h - 1 : h, :]
    p[:, w:] = p[:, w - 1 : w]
    return p


def encode_jpeg_baseline(
    pixels: "object",
    quant: int = 1,
    subsample: bool = False,
    restart_interval: int = 0,
) -> bytes:
    """Encode an H×W×3 uint8 RGB raster as baseline JFIF with a
    uniform quantizer (``quant=1`` ≈ lossless up to DCT rounding).
    ``subsample=True`` writes 4:2:0 (2×2 luma sampling, chroma from
    2×2 means — the dominant real-world layout, and the exerciser for
    the decoder's generic sampling path); ``restart_interval=N``
    emits DRI + RSTn markers every N MCUs (the decoder's restart
    path)."""
    import numpy as np

    arr = np.asarray(pixels, dtype=np.uint8)
    h, w, _ = arr.shape
    rf, gf, bf = (arr[:, :, i].astype(np.float64) for i in range(3))
    ycc = [
        0.299 * rf + 0.587 * gf + 0.114 * bf,
        -0.168736 * rf - 0.331264 * gf + 0.5 * bf + 128.0,
        0.5 * rf - 0.418688 * gf - 0.081312 * bf + 128.0,
    ]
    cbasis = _dct_basis()
    q = float(quant)
    dctab = _huff_encode_table(_DC_BITS, _DC_VALS)
    actab = _huff_encode_table(_AC_BITS, _AC_VALS)
    zz = np.array(ZIGZAG)
    bw = _BitWriter()
    preds = [0, 0, 0]

    def enc_block(plane, by, bx, ci):
        blk = plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] - 128.0
        coef = np.round((cbasis @ blk @ cbasis.T) / q).astype(np.int64)
        preds[ci] = _encode_block(bw, coef.flat[zz], dctab, actab, preds[ci])

    if subsample:
        ph, pw = -(-h // 16) * 16, -(-w // 16) * 16
        y = _pad_plane(ycc[0], ph, pw)
        chroma = [
            _pad_plane(c, ph, pw).reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3))
            for c in ycc[1:]
        ]
        mcuy, mcux = ph // 16, pw // 16
        sof_comps = bytes([1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1])
    else:
        ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
        planes = [_pad_plane(c, ph, pw) for c in ycc]
        mcuy, mcux = ph // 8, pw // 8
        sof_comps = bytes([1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1])

    rst = 0
    for m in range(mcuy * mcux):
        if restart_interval and m and m % restart_interval == 0:
            bw.flush()
            bw.out += bytes([0xFF, 0xD0 + rst])
            rst = (rst + 1) % 8
            preds[:] = [0, 0, 0]
        my, mx = divmod(m, mcux)
        if subsample:
            for by in range(2):
                for bx in range(2):
                    enc_block(y, my * 2 + by, mx * 2 + bx, 0)
            enc_block(chroma[0], my, mx, 1)
            enc_block(chroma[1], my, mx, 2)
        else:
            for ci in range(3):
                enc_block(planes[ci], my, mx, ci)
    bw.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

    qtab = bytes([quant]) * 64
    out = bytearray(b"\xff\xd8")
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xDB, b"\x00" + qtab + b"\x01" + qtab)
    out += seg(0xC0, struct.pack(">BHHB", 8, h, w, 3) + sof_comps)
    dht = b""
    for tc_th, bits, vals in (
        (0x00, _DC_BITS, _DC_VALS),
        (0x10, _AC_BITS, _AC_VALS),
        (0x01, _DC_BITS, _DC_VALS),
        (0x11, _AC_BITS, _AC_VALS),
    ):
        dht += bytes([tc_th]) + bytes(bits) + bytes(vals)
    out += seg(0xC4, dht)
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    out += seg(0xDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
    out += bw.out
    out += b"\xff\xd9"
    return bytes(out)
