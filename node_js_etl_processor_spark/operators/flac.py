"""FLAC subset codec + the distributed q_audio_flac family.

Scope (the honest subset, stated once): MONO 16-bit fixed-blocksize
streams with CONSTANT / VERBATIM / FIXED-predictor subframes (orders
0–4) and 4-bit Rice residuals (partition order 0, escape supported) —
the stdlib-expressible core of the format (RFC 9639 / the published
FLAC spec). LPC subframes, stereo decorrelation, and non-16-bit
depths raise DecodeUnavailable, exactly like the other codecs'
unsupported flavors; the audio probe recognizes such containers and
refuses them with the container named.

FLAC is LOSSLESS, which is what makes the family oracle-able without
an ADPCM-style state-machine replay: the decoder returns the exact
source samples (verified per payload against the STREAMINFO md5 of
the raw audio — a real spec field, so every decode self-checks), and
the synth uses closed-form square waves, so a SQL oracle recomputes
every feature from doc_id directly.

Integrity surface the decoder enforces (all → DecodeUnavailable):
stream magic, STREAMINFO-first, frame sync, header CRC-8 (poly 0x07),
frame CRC-16 (poly 0x8005), subframe-type subset, sample-count
bounds, allocation bounds, and the final raw-audio md5.

Reference parity notes: container/codec recognition mirrors the WAV/
AU probe family (audio.py); the reference repo (server.js) has no
audio surface — this family belongs to the mandated LLM-pipeline
multimodal extensions.
"""

from __future__ import annotations

import hashlib
import struct

from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StringType, StructField, StructType

from node_js_etl_processor_spark.operators.multimodal import DecodeUnavailable

FLAC_MAGIC = b"fLaC"
#: encoder block size — small enough that the synth's 300–800-sample
#: signals exercise the multi-frame path
FLAC_BLOCK = 256

#: fixed-predictor coefficient rows (order 0..4), per the spec
_FIXED_COEFFS = ((), (1,), (2, -1), (3, -3, 1), (4, -6, 4, -1))


def _crc_table(poly: int, width: int) -> "tuple[int, ...]":
    """Precomputed byte-indexed CRC table — the standard table-driven
    form (identical values to a bit-serial loop; a profile had
    bit-serial CRCs at ~half of both encode and decode
    time, and the table form is ~8x fewer Python ops per byte)."""
    top, mask = 1 << (width - 1), (1 << width) - 1
    table = []
    for byte in range(256):
        crc = byte << (width - 8)
        for _ in range(8):
            crc = ((crc << 1) ^ poly) & mask if crc & top else (crc << 1) & mask
        table.append(crc)
    return tuple(table)


_CRC8_TABLE = _crc_table(0x07, 8)
_CRC16_TABLE = _crc_table(0x8005, 16)


def _crc8(data: bytes) -> int:
    crc = 0
    table = _CRC8_TABLE
    for byte in data:
        crc = table[crc ^ byte]
    return crc


def _crc16(data: bytes) -> int:
    crc = 0
    table = _CRC16_TABLE
    for byte in data:
        crc = ((crc << 8) & 0xFFFF) ^ table[(crc >> 8) ^ byte]
    return crc


class _BitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, nbits: int) -> None:
        self.acc = (self.acc << nbits) | (value & ((1 << nbits) - 1))
        self.nbits += nbits
        nbytes = self.nbits >> 3
        if nbytes:
            self.nbits -= nbytes << 3
            self.buf += (self.acc >> self.nbits).to_bytes(nbytes, "big")
            self.acc &= (1 << self.nbits) - 1

    def align(self) -> None:
        if self.nbits:
            self.write(0, 8 - self.nbits)

    def bytes(self) -> bytes:
        assert self.nbits == 0
        return bytes(self.buf)


class _BitReader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0  # bit position

    def read(self, nbits: int) -> int:
        end = self.pos + nbits
        if end > len(self.data) * 8:
            raise DecodeUnavailable("truncated FLAC bitstream")
        out = 0
        pos = self.pos
        while nbits:
            byte = self.data[pos >> 3]
            avail = 8 - (pos & 7)
            take = avail if avail < nbits else nbits
            shift = avail - take
            out = (out << take) | ((byte >> shift) & ((1 << take) - 1))
            pos += take
            nbits -= take
        self.pos = pos
        return out

    def read_unary(self) -> int:
        q = 0
        while True:
            if self.read(1):
                return q
            q += 1
            if q > 1 << 20:
                raise DecodeUnavailable("unterminated FLAC unary run")

    def align(self) -> None:
        self.pos = (self.pos + 7) & ~7


def _read_rice_block(br: _BitReader, cnt: int, param: int):
    """Decode ``cnt`` Rice codes at parameter ``param`` from the
    reader — the decode hot path: unpack a bounded window of the
    bitstream ONCE, walk the precomputed 1-bit index list (one cheap
    Python step per CODE, not per bit), then gather every code's low
    bits with one fancy-index pass. The window grows geometrically if
    a pathological run outsizes the initial estimate, so cost stays
    linear in bits actually consumed, never in the stream tail."""
    import numpy as np

    if cnt == 0:
        return np.zeros(0, dtype=np.int64)
    avail = len(br.data) * 8 - br.pos
    if avail <= 0:
        raise DecodeUnavailable("truncated FLAC bitstream")
    need = min(cnt * (param + 2) + 4096, avail)
    while True:
        byte0 = br.pos >> 3
        off = br.pos & 7
        nbytes = (off + need + 7) >> 3
        window = np.unpackbits(
            np.frombuffer(br.data, dtype=np.uint8, offset=byte0, count=nbytes)
        )[off : off + need]
        ones = np.flatnonzero(window)
        q = np.empty(cnt, dtype=np.int64)
        tpos = np.empty(cnt, dtype=np.int64)
        pos = 0
        oi = 0
        ok = True
        try:
            for i in range(cnt):
                while ones[oi] < pos:
                    oi += 1
                t = int(ones[oi])
                oi += 1
                q[i] = t - pos
                tpos[i] = t
                pos = t + 1 + param
        except IndexError:
            ok = False
        if ok and pos <= need:
            break
        if need >= avail:
            raise DecodeUnavailable("truncated FLAC bitstream")
        need = min(need * 4, avail)
    if param:
        idx = tpos[:, None] + 1 + np.arange(param)[None, :]
        lowbits = window[idx].astype(np.int64)
        low = np.zeros(cnt, dtype=np.int64)
        for k in range(param):
            low = (low << 1) | lowbits[:, k]
        u = (q << param) | low
    else:
        u = q
    br.pos += int(pos)
    return (u >> 1) ^ -(u & 1)


def _read_fixed_width_block(br: _BitReader, cnt: int, width: int):
    """Decode ``cnt`` two's complement ``width``-bit residuals (the
    Rice escape form) in one unpack + strided gather."""
    import numpy as np

    if cnt == 0 or width == 0:
        return np.zeros(cnt, dtype=np.int64)
    total = cnt * width
    if br.pos + total > len(br.data) * 8:
        raise DecodeUnavailable("truncated FLAC bitstream")
    byte0 = br.pos >> 3
    off = br.pos & 7
    nbytes = (off + total + 7) >> 3
    bits = np.unpackbits(
        np.frombuffer(br.data, dtype=np.uint8, offset=byte0, count=nbytes)
    )[off : off + total].astype(np.int64)
    w = np.zeros(cnt, dtype=np.int64)
    for k in range(width):
        w = (w << 1) | bits[k::width]
    br.pos += total
    return np.where(w >= (1 << (width - 1)), w - (1 << width), w)


def _utf8_code(n: int) -> bytes:
    """The spec's UTF-8-style coded number (frame numbers here are
    small, but encode the general multi-byte form anyway)."""
    if n < 0x80:
        return bytes([n])
    out = []
    nbytes = 2
    while n >= (1 << (7 - nbytes) << (6 * (nbytes - 1))):
        nbytes += 1
    lead = (0xFF << (8 - nbytes)) & 0xFF
    shift = 6 * (nbytes - 1)
    out.append(lead | (n >> shift))
    for i in range(nbytes - 1):
        shift -= 6
        out.append(0x80 | ((n >> shift) & 0x3F))
    return bytes(out)


def _read_utf8_code(br: _BitReader) -> int:
    first = br.read(8)
    if first < 0x80:
        return first
    nbytes = 0
    mask = 0x80
    while first & mask:
        nbytes += 1
        mask >>= 1
    if nbytes < 2 or nbytes > 7:
        raise DecodeUnavailable("bad FLAC coded number")
    n = first & (0x7F >> nbytes)
    for _ in range(nbytes - 1):
        cont = br.read(8)
        if cont & 0xC0 != 0x80:
            raise DecodeUnavailable("bad FLAC coded-number continuation")
        n = (n << 6) | (cont & 0x3F)
    return n


def _zigzag_vec(resid):
    import numpy as np

    r = np.asarray(resid, dtype=np.int64)
    return np.where(r >= 0, r << 1, ((-r) << 1) - 1)


def _raw_bits(resid) -> int:
    """Two's-complement width used by the escape code: 1 + the max
    magnitude bit length (frexp exponent — exact for these integer
    ranges), matching int.bit_length() + 1 per residual."""
    import numpy as np

    r = np.asarray(resid, dtype=np.int64)
    if r.size == 0:
        return 1
    a = np.abs(r).astype(np.float64)
    bl = np.where(a > 0, np.frexp(a)[1], 0)
    return min(int(bl.max()) + 1, 31)


def _best_rice_param(resid) -> "tuple[int, int]":
    """(param or -1 for escape, bit cost) minimizing the partition's
    size; escape cost = 5 + n·bits for the widest residual. One numpy
    reduction per candidate parameter — no per-residual Python."""
    n = len(resid)
    u = _zigzag_vec(resid)
    best_param, best_cost = -2, None
    for param in range(15):
        cost = int((u >> param).sum()) + n * (param + 1)
        if best_cost is None or cost < best_cost:
            best_param, best_cost = param, cost
    rb = _raw_bits(resid)
    esc_cost = 5 + n * rb
    if best_cost is None or esc_cost < best_cost:
        return -1, esc_cost
    return best_param, best_cost


def _pack_rice(resid, param: int) -> "tuple[int, int]":
    """(big-int value, bit length) of the Rice coding of a residual
    vector, assembled as ONE numpy bit array (a terminator scatter
    plus ``param`` low-bit scatters) instead of per-sample Python bit
    writes — the encode hot path."""
    import numpy as np

    u = _zigzag_vec(resid)
    if u.size == 0:
        return 0, 0
    q = u >> param
    lens = q + 1 + param
    total = int(lens.sum())
    starts = np.zeros(u.shape[0], dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    bits = np.zeros(total, dtype=np.uint8)
    bits[starts + q] = 1
    for k in range(param):
        bits[starts + q + 1 + k] = (u >> (param - 1 - k)) & 1
    value = int.from_bytes(np.packbits(bits).tobytes(), "big")
    return value >> ((-total) % 8), total


def _pack_fixed_width(values, width: int) -> int:
    """Big-int of ``values`` written MSB-first at a fixed two's
    complement ``width`` each — vectorized verbatim/warmup/escape
    writer."""
    import numpy as np

    v = np.asarray(values, dtype=np.int64)
    if v.size == 0 or width == 0:
        return 0
    u = (v & ((1 << width) - 1)).astype(np.uint64)
    bits = np.zeros(v.shape[0] * width, dtype=np.uint8)
    for k in range(width):
        bits[k::width] = ((u >> np.uint64(width - 1 - k)) & np.uint64(1)).astype(
            np.uint8
        )
    total = v.shape[0] * width
    return int.from_bytes(np.packbits(bits).tobytes(), "big") >> ((-total) % 8)


def encode_flac(samples: "object", sample_rate: int) -> bytes:
    """Encode a mono int16 array as a subset FLAC stream: fixed
    256-sample blocks, per-block best of CONSTANT / VERBATIM / FIXED
    order 0–2 (decoder accepts 0–4), Rice partition order 0 with the
    escape code, real header CRC-8 / frame CRC-16, and the real
    STREAMINFO md5 of the raw little-endian samples — the field the
    decoder uses to prove losslessness per payload."""
    import numpy as np

    arr = np.asarray(samples, dtype=np.int16).reshape(-1)
    n = arr.shape[0]
    if n == 0:
        raise ValueError("FLAC encode needs at least one sample")
    if not 1 <= sample_rate < (1 << 20):
        raise ValueError("sample rate out of the 20-bit STREAMINFO range")
    md5 = hashlib.md5(arr.astype("<i2").tobytes()).digest()

    frames = []
    for fno, b0 in enumerate(range(0, n, FLAC_BLOCK)):
        block = arr[b0 : b0 + FLAC_BLOCK].astype(np.int64)
        bs = block.shape[0]
        header = bytearray()
        header += bytes([0xFF, 0xF8])  # sync 11111111 11111000:
        # 14-bit sync + 0 reserved + 0 fixed-blocksize strategy
        header.append((0x07 << 4) | 0x00)  # blocksize code 0111 (16-bit
        # follows), sample rate code 0000 (from STREAMINFO)
        header.append((0x00 << 4) | (0x04 << 1) | 0)  # mono, 16-bit, reserved
        header += _utf8_code(fno)
        header += struct.pack(">H", bs - 1)
        header.append(_crc8(bytes(header)))

        bw = _BitWriter()
        # choose the subframe form
        if bs and (block == block[0]).all():
            bw.write(0b0_000000_0, 8)  # CONSTANT
            bw.write(int(block[0]) & 0xFFFF, 16)
        else:
            cands = []
            for order in range(3):
                if bs <= order:
                    continue
                # residual for fixed order k = k-th difference; warmup
                # samples are the first k originals
                resid = np.diff(block, n=order) if order else block.copy()
                param, cost = _best_rice_param(resid)
                cands.append((16 * order + cost, order, resid, param))
            cost_verb = 16 * bs
            best = min(cands, key=lambda c: c[0]) if cands else None
            if best is None or cost_verb <= best[0]:
                bw.write(0b0_000001_0, 8)  # VERBATIM
                bw.write(_pack_fixed_width(block, 16), 16 * bs)
            else:
                _cost, order, resid, param = best
                bw.write((0b001000 | order) << 1, 8)  # FIXED, wasted=0
                if order:
                    bw.write(_pack_fixed_width(block[:order], 16), 16 * order)
                bw.write(0b00, 2)  # 4-bit rice method
                bw.write(0, 4)  # partition order 0
                if param < 0:
                    rb = _raw_bits(resid)
                    bw.write(0b1111, 4)
                    bw.write(rb, 5)
                    bw.write(_pack_fixed_width(resid, rb), rb * len(resid))
                else:
                    bw.write(param, 4)
                    value, total = _pack_rice(resid, param)
                    bw.write(value, total)
        bw.align()
        body = bytes(header) + bw.bytes()
        frames.append(body + struct.pack(">H", _crc16(body)))

    frame_sizes = [len(f) for f in frames]
    si = _BitWriter()
    si.write(FLAC_BLOCK, 16)
    si.write(FLAC_BLOCK, 16)
    si.write(min(frame_sizes), 24)
    si.write(max(frame_sizes), 24)
    si.write(sample_rate, 20)
    si.write(0, 3)  # channels - 1
    si.write(15, 5)  # bits per sample - 1
    si.write(n, 36)
    streaminfo = si.bytes() + md5
    header = bytes([0x80, 0, 0, len(streaminfo)])  # last-block, type 0
    return FLAC_MAGIC + header + streaminfo + b"".join(frames)


def parse_flac_streaminfo(payload: bytes) -> "tuple[int, int, int, int]":
    """(sample_rate, channels, bits, total_samples) from a FLAC
    stream's mandatory first STREAMINFO block — the probe's surface
    (geometry without sample decode). DecodeUnavailable on anything
    structurally invalid."""
    if payload is None or payload[:4] != FLAC_MAGIC:
        raise DecodeUnavailable("not a FLAC stream")
    if len(payload) < 8:
        raise DecodeUnavailable("truncated FLAC metadata header")
    btype = payload[4] & 0x7F
    (blen,) = struct.unpack(">I", b"\x00" + payload[5:8])
    if btype != 0 or blen < 34:
        raise DecodeUnavailable("FLAC stream must lead with STREAMINFO")
    if len(payload) < 8 + blen:
        raise DecodeUnavailable("truncated FLAC STREAMINFO")
    br = _BitReader(payload[8 : 8 + 34])
    br.read(16)  # min block size
    br.read(16)  # max block size
    br.read(24)
    br.read(24)
    rate = br.read(20)
    ch = br.read(3) + 1
    bits = br.read(5) + 1
    total = br.read(36)
    if rate == 0:
        raise DecodeUnavailable("FLAC STREAMINFO: zero sample rate")
    return rate, ch, bits, total


def decode_flac(payload: bytes) -> "tuple[object, int, int]":
    """Decode a subset FLAC stream into ((n,) int16 array, rate,
    n_frames) — the frame count is COUNTED during the walk, not
    derived from any assumed block size, so it is honest for
    conforming external streams with non-256 fixed block sizes too.
    Verifies frame sync, header CRC-8, frame CRC-16 and the final
    STREAMINFO md5 of the decoded audio; anything outside the subset
    (LPC, stereo, non-16-bit) or structurally invalid raises
    DecodeUnavailable."""
    import numpy as np

    rate, ch, bits, total = parse_flac_streaminfo(payload)
    if ch != 1 or bits != 16:
        raise DecodeUnavailable(
            f"unsupported FLAC flavor (channels={ch}, bits={bits})"
        )
    if total > (len(payload) * 8) + 65536:
        raise DecodeUnavailable("FLAC sample count exceeds payload bound")
    md5_expect = payload[8 + 18 : 8 + 34]
    # walk metadata blocks to the first frame
    pos = 4
    while True:
        if pos + 4 > len(payload):
            raise DecodeUnavailable("FLAC metadata runs past payload")
        last = payload[pos] & 0x80
        (blen,) = struct.unpack(">I", b"\x00" + payload[pos + 1 : pos + 4])
        pos += 4 + blen
        if pos > len(payload):
            raise DecodeUnavailable("FLAC metadata block overruns payload")
        if last:
            break

    out = np.empty(total, dtype=np.int16)
    got = 0
    n_frames = 0
    while got < total:
        frame_start = pos * 8
        br = _BitReader(payload)
        br.pos = frame_start
        sync = br.read(14)
        if sync != 0b11111111111110:
            raise DecodeUnavailable("bad FLAC frame sync")
        if br.read(1):
            raise DecodeUnavailable("reserved FLAC header bit set")
        br.read(1)  # blocking strategy (fixed streams: frame number)
        bs_code = br.read(4)
        sr_code = br.read(4)
        chan = br.read(4)
        ss_code = br.read(3)
        if br.read(1):
            raise DecodeUnavailable("reserved FLAC header bit set")
        _fno = _read_utf8_code(br)
        if bs_code == 0:
            raise DecodeUnavailable("reserved FLAC block size code")
        if bs_code == 1:
            bs = 192
        elif 2 <= bs_code <= 5:
            bs = 576 << (bs_code - 2)
        elif bs_code == 6:
            bs = br.read(8) + 1
        elif bs_code == 7:
            bs = br.read(16) + 1
        else:
            bs = 256 << (bs_code - 8)
        if sr_code == 0:
            pass  # from STREAMINFO
        elif sr_code in (12, 13, 14):
            br.read(8 if sr_code == 12 else 16)
        elif sr_code == 15:
            raise DecodeUnavailable("invalid FLAC sample rate code")
        if chan != 0:
            raise DecodeUnavailable("only mono FLAC is supported")
        if ss_code != 0b100:
            raise DecodeUnavailable("only 16-bit FLAC is supported")
        header_end_bits = br.pos
        if header_end_bits % 8:
            raise DecodeUnavailable("misaligned FLAC frame header")
        crc8 = br.read(8)
        if _crc8(payload[pos : header_end_bits // 8]) != crc8:
            raise DecodeUnavailable("FLAC frame header CRC-8 mismatch")
        if bs > total - got:
            raise DecodeUnavailable("FLAC frame overruns STREAMINFO total")

        # one subframe (mono)
        if br.read(1):
            raise DecodeUnavailable("bad FLAC subframe padding bit")
        stype = br.read(6)
        wasted = 0
        if br.read(1):  # wasted-bits flag: unary count follows
            wasted = br.read_unary() + 1
        if wasted >= 16:
            raise DecodeUnavailable("FLAC wasted bits exceed sample size")
        # the subframe decodes in the (bps - wasted)-bit domain; the
        # left shift by the wasted-bit count applies AFTER prediction
        eff = 16 - wasted
        if stype == 0:
            val = br.read(eff)
            if val >= 1 << (eff - 1):
                val -= 1 << eff
            block = np.full(bs, val, dtype=np.int64)
        elif stype == 1:
            block = _read_fixed_width_block(br, bs, eff)
        elif 8 <= stype <= 12:
            order = stype - 8
            if order > bs:
                raise DecodeUnavailable("FLAC fixed order exceeds block size")
            warm = _read_fixed_width_block(br, order, eff)
            method = br.read(2)
            if method not in (0, 1):
                raise DecodeUnavailable("reserved FLAC residual method")
            pbits = 4 if method == 0 else 5
            escape = 0b1111 if method == 0 else 0b11111
            porder = br.read(4)
            nres = bs - order
            resid = np.empty(nres, dtype=np.int64)
            idx = 0
            for part in range(1 << porder):
                cnt = bs >> porder
                if part == 0:
                    cnt -= order
                if cnt < 0 or idx + cnt > nres:
                    # first-partition count goes negative when the
                    # predictor order exceeds blocksize >> porder — a
                    # structurally invalid stream, not an executor error
                    raise DecodeUnavailable("FLAC partition overruns block")
                param = br.read(pbits)
                if param == escape:
                    raw = br.read(5)
                    resid[idx : idx + cnt] = _read_fixed_width_block(br, cnt, raw)
                else:
                    resid[idx : idx + cnt] = _read_rice_block(br, cnt, param)
                idx += cnt
            block = np.empty(bs, dtype=np.int64)
            block[:order] = warm
            coeffs = _FIXED_COEFFS[order]
            for i in range(order, bs):
                acc = resid[i - order]
                for k, c in enumerate(coeffs):
                    acc += c * block[i - 1 - k]
                block[i] = acc
        else:
            raise DecodeUnavailable("unsupported FLAC subframe type (LPC?)")
        if wasted:
            block = block << wasted

        br.align()
        crc16 = br.read(16)
        frame_bytes = payload[pos : (br.pos - 16) // 8]
        if _crc16(frame_bytes) != crc16:
            raise DecodeUnavailable("FLAC frame CRC-16 mismatch")
        if block.max(initial=0) > 32767 or block.min(initial=0) < -32768:
            raise DecodeUnavailable("FLAC decoded sample out of 16-bit range")
        out[got : got + bs] = block.astype(np.int16)
        got += bs
        n_frames += 1
        pos = br.pos // 8

    if hashlib.md5(out.astype("<i2").tobytes()).digest() != md5_expect:
        raise DecodeUnavailable("FLAC audio md5 mismatch")
    return out, rate, n_frames


# ----------------------------------------------------- distributed family

FLAC_FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("ok", StringType(), False),
        StructField("sample_rate", LongType(), True),
        StructField("n_samples", LongType(), True),
        StructField("n_frames", LongType(), True),
        StructField("peak_pos", LongType(), True),
        StructField("peak_neg", LongType(), True),
        StructField("sum_samples", LongType(), True),
        StructField("sum_abs", LongType(), True),
    ]
)


def synth_flac_media(documents: DataFrame) -> DataFrame:
    """Deterministic FLAC payloads per document: each doc_id fixes a
    mono square wave (amplitude 700 + (doc_id%22)·350, half-period
    2 + doc_id%6, 300 + (doc_id%4)·160 samples at 8 or 16 kHz by
    doc_id%2 — 2–4 frames at the 256-sample block size, so framing,
    CRC chains and the warmup/Rice paths all run per payload),
    encoded through the REAL ``encode_flac``. Every doc_id%11==0 row
    carries a REAL G.711 A-law WAV instead — foreign-format rejection
    under the gate."""
    import numpy as np

    from node_js_etl_processor_spark.operators.audio import encode_wav_g711
    from node_js_etl_processor_spark.operators.media_harness import (
        per_doc,
        synth_media,
    )

    def make_row(did: int):
        if did % 11 == 0:
            return (
                "audio/wav;codec=alaw",
                encode_wav_g711(np.full(24, 800, dtype=np.int16), 8000, "alaw"),
            )
        amp = 700 + (did % 22) * 350
        period = 2 + did % 6
        n = 300 + (did % 4) * 160
        rate = 8000 if did % 2 == 0 else 16000
        i = np.arange(n)
        sign = np.where((i // period) % 2 == 0, 1, -1)
        return "audio/flac", encode_flac((sign * amp).astype(np.int16), rate)

    return synth_media(documents, per_doc(make_row), "audio")


def audio_flac_features(media: DataFrame) -> DataFrame:
    """Distributed FLAC feature pass: decode through the REAL subset
    decoder (CRC-8/CRC-16/md5-verified — losslessness is checked per
    payload, not assumed) and emit exact-integer statistics plus the
    frame count. Foreign formats and corrupt payloads surface as
    ok=false rows."""
    import numpy as np

    from node_js_etl_processor_spark.operators.media_harness import (
        media_features,
    )

    def extract(payload):
        arr, rate, n_frames = decode_flac(payload)
        flat = arr.astype(np.int64)
        return [
            {
                "sample_rate": rate,
                "n_samples": int(flat.shape[0]),
                "n_frames": n_frames,
                "peak_pos": int(flat.max()) if flat.size else 0,
                "peak_neg": int(flat.min()) if flat.size else 0,
                "sum_samples": int(flat.sum()),
                "sum_abs": int(np.abs(flat).sum()),
            }
        ]

    return media_features(media, FLAC_FEATURE_SCHEMA, extract)


def q_audio_flac(documents: DataFrame) -> DataFrame:
    """Declared query: the full distributed FLAC loop —
    ``synth_flac_media`` (real subset encode: fixed predictors, Rice
    residuals, CRC chains, STREAMINFO md5) → ``audio_flac_features``
    (real decode with every integrity check enforced). FLAC is
    lossless and the decoder PROVES it per payload via the STREAMINFO
    md5, so the DuckDB oracle recomputes every statistic closed-form
    from the square-wave parameters — no codec replay needed (the
    G.711 oracle's shape, minus the companding arithmetic).

    Scale: two chained mapInPandas passes, zero shuffles before the
    presentation sort — the canonical media-pass shape."""
    return audio_flac_features(synth_flac_media(documents)).orderBy("media_id")
