"""Real compressed-audio codecs over the opaque-binary media model.

The reference pipeline treats every payload as bytes-in/bytes-out
(server.js:90,106 — JSON/CSV staging of opaque records); the
multimodal family extends that to binary media columns. This module
closes the "compressed audio honestly stubbed" gap the same way the
MJPEG-AVI walker closed video: with REAL codecs that are fully
implementable from published specifications with no external
libraries:

* **G.711 μ-law / A-law** (ITU-T Rec. G.711, the telephony companding
  standard; WAVE format tags 7 and 6). Implemented vectorized in
  numpy following the classic public-domain Sun Microsystems
  ``ulaw.c`` formulation (14-bit μ-law / 13-bit A-law segment +
  mantissa encoding) — the same formulation CPython's ``audioop``
  uses, which the test suite uses as an exact differential reference
  over the entire 16-bit input range (gated behind an import-try:
  ``audioop`` is removed in Python 3.13).
* **IMA ADPCM** (WAVE format tag 0x11, block format per the
  Microsoft/IMA "wave mapper" spec): 4-bit differential coding with
  the published 89-entry step-size table; encoder and decoder share
  the predictor/step-index state machine, so decode(encode(x))
  replays deterministically.

Scale design mirrors the other media kernels: codecs run inside
Arrow-batched ``mapInPandas`` passes (zero shuffles), vectorized
numpy per batch, per-row failure isolation (a corrupt or
unsupported-flavor payload yields one ``ok=false`` row, never an
executor error). At 100 TB the synth stage is the parquet payload
column and the decode pass is a single narrow projection.
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
    DecodeUnavailable,
    encode_wav,
    parse_wav_chunks,
)

# WAVE format tags (RIFF registry).
WAVE_TAG_PCM = 1
WAVE_TAG_ALAW = 6
WAVE_TAG_MULAW = 7
WAVE_TAG_IMA_ADPCM = 0x11

_ULAW_BIAS = 0x84  # 132 — bias for the 16-bit linear domain
_ULAW_CLIP = 8159  # clip in the 14-bit domain (Sun ulaw.c)


# --------------------------------------------------------------- G.711 μ-law


def mulaw_encode(samples: "object") -> "object":
    """int16 linear → uint8 μ-law, vectorized (Sun ulaw.c semantics:
    arithmetic >>2 to the 14-bit domain, clip 8159, bias 33, segment
    = position in the {0x3F,0x7F,...,0x1FFF} end table, 4-bit
    mantissa, ones-complement output)."""
    import numpy as np

    x = np.asarray(samples, dtype=np.int64)
    pcm = x >> 2  # arithmetic shift — negatives floor, exactly like C
    neg = pcm < 0
    mag = np.where(neg, -pcm, pcm)
    mag = np.minimum(mag, _ULAW_CLIP) + (_ULAW_BIAS >> 2)  # +33, ≤ 8192
    # seg = index of first end-table entry >= mag; the end table is
    # {0x3F << k} so seg = floor(log2(mag)) - 5, and frexp's exponent
    # is floor(log2(mag)) + 1 for integral mag >= 1.
    bits = np.frexp(mag.astype(np.float64))[1]
    seg = np.maximum(bits - 6, 0)
    sat = seg >= 8
    segc = np.minimum(seg, 7)
    mant = (mag >> (segc + 1)) & 0x0F
    uval = (segc << 4) | mant
    uval = np.where(sat, 0x7F, uval)
    mask = np.where(neg, 0x7F, 0xFF)
    return (uval ^ mask).astype(np.uint8)


def mulaw_decode(codes: "object") -> "object":
    """uint8 μ-law → int16 linear, vectorized (Sun ulaw2linear:
    t = ((mant<<3) + 0x84) << seg; ±(t - 0x84))."""
    import numpy as np

    u = (~np.asarray(codes, dtype=np.int64)) & 0xFF
    seg = (u >> 4) & 0x07
    mant = u & 0x0F
    t = ((mant << 3) + _ULAW_BIAS) << seg
    val = t - _ULAW_BIAS
    return np.where(u & 0x80, -val, val).astype(np.int16)


# --------------------------------------------------------------- G.711 A-law


def alaw_encode(samples: "object") -> "object":
    """int16 linear → uint8 A-law, vectorized (Sun linear2alaw:
    arithmetic >>3 to the 13-bit domain, negative branch -pcm-1,
    segment end table {0x1F,...,0xFFF}, even-bit inversion 0x55)."""
    import numpy as np

    x = np.asarray(samples, dtype=np.int64)
    pcm = x >> 3
    neg = pcm < 0
    mag = np.where(neg, -pcm - 1, pcm)
    # seg = index of first {0x1F << k} entry >= mag = floor(log2(mag))-4
    # for mag >= 32, else 0; saturate at 8 (peak code).
    bits = np.frexp(np.maximum(mag, 1).astype(np.float64))[1]
    seg = np.maximum(bits - 5, 0)
    sat = seg >= 8
    segc = np.minimum(seg, 7)
    shift = np.where(segc < 2, 1, segc)
    mant = (mag >> shift) & 0x0F
    aval = (segc << 4) | mant
    aval = np.where(sat, 0x7F, aval)
    mask = np.where(neg, 0x55, 0xD5)
    return (aval ^ mask).astype(np.uint8)


def alaw_decode(codes: "object") -> "object":
    """uint8 A-law → int16 linear, vectorized (Sun alaw2linear)."""
    import numpy as np

    a = np.asarray(codes, dtype=np.int64) ^ 0x55
    seg = (a >> 4) & 0x07
    mant = a & 0x0F
    t = mant << 4
    t = np.where(seg == 0, t + 8, t + 0x108)
    t = np.where(seg >= 2, t << np.maximum(seg - 1, 0), t)
    return np.where(a & 0x80, t, -t).astype(np.int16)


# ------------------------------------------------------------ WAV container


def encode_wav_g711(samples: "object", sample_rate: int, law: str) -> bytes:
    """Encode a mono/(n, ch) int16 array as a G.711 WAV (format tag 7
    for ``law='mulaw'``, 6 for ``'alaw'``; 8 bits per sample)."""
    import numpy as np

    arr = np.asarray(samples, dtype=np.int16)
    if arr.ndim == 1:
        arr = arr[:, None]
    n, ch = arr.shape
    enc = mulaw_encode if law == "mulaw" else alaw_encode
    tag = WAVE_TAG_MULAW if law == "mulaw" else WAVE_TAG_ALAW
    data = enc(arr.reshape(-1)).astype(np.uint8).tobytes()
    byte_rate = sample_rate * ch
    fmt = struct.pack("<HHIIHH", tag, ch, sample_rate, byte_rate, ch, 8)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav_g711(payload: bytes) -> "tuple[object, int, str]":
    """Decode a G.711 WAV (tag 6/7) into ((n, ch) int16, rate, law).
    Any other flavor — PCM, ADPCM, junk — raises DecodeUnavailable."""
    import numpy as np

    fmt, data = parse_wav_chunks(payload)
    tag, ch, rate, _br, _align, bits = fmt
    if tag not in (WAVE_TAG_MULAW, WAVE_TAG_ALAW) or bits != 8 or ch < 1 or rate <= 0:
        raise DecodeUnavailable(
            f"unsupported WAV flavor for G.711 decode (tag={tag}, bits={bits})"
        )
    law = "mulaw" if tag == WAVE_TAG_MULAW else "alaw"
    dec = mulaw_decode if tag == WAVE_TAG_MULAW else alaw_decode
    n = len(data) // ch
    codes = np.frombuffer(data, dtype=np.uint8, count=n * ch).reshape(n, ch)
    return dec(codes).astype(np.int16), rate, law


# ---------------------------------------------------------------- IMA ADPCM

#: Published IMA/DVI ADPCM step-size table (89 entries) and index
#: adaptation table — the same constants CPython's audioop and every
#: IMA decoder use.
ADPCM_STEPS = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31,
    34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130,
    143, 157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449,
    494, 544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411,
    1552, 1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026,
    4428, 4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442,
    11487, 12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623,
    27086, 29794, 32767,
]
ADPCM_INDEX = [-1, -1, -1, -1, 2, 4, 6, 8]

#: WAV tag-0x11 block layout: 4-byte header (predictor int16, step
#: index uint8, reserved) + 2 samples per data byte; the header
#: carries the block's first sample verbatim.
ADPCM_BLOCK_ALIGN = 256
ADPCM_SAMPLES_PER_BLOCK = (ADPCM_BLOCK_ALIGN - 4) * 2 + 1  # 505


def _adpcm_step(pred: int, idx: int, x: int) -> "tuple[int, int, int]":
    """One encoder+decoder step (they share state in IMA): quantize
    (x - pred) to a 4-bit code against step ADPCM_STEPS[idx], return
    (code, new_pred, new_idx). new_pred IS the decoded sample."""
    step = ADPCM_STEPS[idx]
    diff = x - pred
    code = 0
    if diff < 0:
        code = 8
        diff = -diff
    vpdiff = step >> 3
    if diff >= step:
        code |= 4
        diff -= step
        vpdiff += step
    step >>= 1
    if diff >= step:
        code |= 2
        diff -= step
        vpdiff += step
    step >>= 1
    if diff >= step:
        code |= 1
        vpdiff += step
    pred = pred - vpdiff if code & 8 else pred + vpdiff
    pred = max(-32768, min(32767, pred))
    idx = max(0, min(88, idx + ADPCM_INDEX[code & 7]))
    return code, pred, idx


def adpcm_encode_stream(samples: "object", pred: int = 0, idx: int = 0):
    """Encode an int16 sequence to (list of 4-bit codes, final state).
    The raw IMA nibble loop with explicit carried state — the unit the
    tests pin exactly against audioop.lin2adpcm (same Intel/DVI
    algorithm; audioop packs high-nibble-first, WAV packs low-first,
    so parity is checked at the nibble level)."""
    codes = []
    for x in samples:
        code, pred, idx = _adpcm_step(pred, idx, int(x))
        codes.append(code)
    return codes, (pred, idx)


def adpcm_decode_stream(codes: "object", pred: int = 0, idx: int = 0):
    """Decode a 4-bit code sequence to (list of int16 samples, final
    state) — the inverse nibble loop (state machine identical to the
    encoder's by construction)."""
    out = []
    for code in codes:
        step = ADPCM_STEPS[idx]
        vpdiff = step >> 3
        if code & 4:
            vpdiff += step
        if code & 2:
            vpdiff += step >> 1
        if code & 1:
            vpdiff += step >> 2
        pred = pred - vpdiff if code & 8 else pred + vpdiff
        pred = max(-32768, min(32767, pred))
        idx = max(0, min(88, idx + ADPCM_INDEX[code & 7]))
        out.append(pred)
    return out, (pred, idx)


def adpcm_encode_blocks(samples: "object", preds: "object") -> "object":
    """Vectorized IMA encoder over a (B, K) matrix of per-block samples (the
    samples AFTER each block's header sample) with per-block initial
    predictors (step index 0, the WAV tag-0x11 block anchor). Blocks are
    independent state machines, so nibble position i of ALL blocks advances
    in one numpy step — B·K scalar Python iterations become K vector
    iterations (at a 500-row Arrow batch that is ~1000 lockstep lanes).
    Bit-identical to ``adpcm_encode_stream`` by construction (same published
    tables, same quantizer branch structure) — pinned directly by
    tests/test_extensions.py::test_adpcm_block_kernels_lockstep_vs_stream
    over random (B, K) matrices. Returns a (B, K) uint8 code matrix."""
    import numpy as np

    x = np.asarray(samples, dtype=np.int64)
    if x.size == 0:
        return np.zeros(x.shape, dtype=np.uint8)
    steps_t = np.asarray(ADPCM_STEPS, dtype=np.int64)
    index_t = np.asarray(ADPCM_INDEX, dtype=np.int64)
    b, k = x.shape
    pred = np.asarray(preds, dtype=np.int64).copy()
    idx = np.zeros(b, dtype=np.int64)
    codes = np.empty((b, k), dtype=np.uint8)
    for i in range(k):
        step = steps_t[idx]
        diff = x[:, i] - pred
        sign = diff < 0
        diff = np.abs(diff)
        vpdiff = step >> 3
        c4 = diff >= step
        diff -= np.where(c4, step, 0)
        vpdiff += np.where(c4, step, 0)
        half = step >> 1
        c2 = diff >= half
        diff -= np.where(c2, half, 0)
        vpdiff += np.where(c2, half, 0)
        quarter = step >> 2
        c1 = diff >= quarter
        vpdiff += np.where(c1, quarter, 0)
        low = c4 * 4 + c2 * 2 + c1 * 1
        pred = np.where(sign, pred - vpdiff, pred + vpdiff)
        np.clip(pred, -32768, 32767, out=pred)
        idx = np.clip(idx + index_t[low], 0, 88)
        codes[:, i] = low + sign * 8
    return codes


def adpcm_decode_blocks(
    codes: "object", preds: "object", idxs: "object"
) -> "object":
    """Vectorized IMA decoder over a (B, K) code matrix with
    per-block initial (predictor, step index) — the lockstep inverse
    of ``adpcm_encode_blocks`` (see there for the scale rationale).
    This is the production decode path: ``decode_wav_adpcm`` and the
    cross-payload ``decode_wav_adpcm_batch`` both route through it.
    Pinned directly by tests/test_extensions.py::
    test_adpcm_block_kernels_lockstep_vs_stream over random (B, K)
    code matrices with random initial states. Returns a (B, K) int16
    sample matrix."""
    import numpy as np

    c = np.asarray(codes, dtype=np.int64)
    if c.size == 0:
        return np.zeros(c.shape, dtype=np.int16)
    steps_t = np.asarray(ADPCM_STEPS, dtype=np.int64)
    index_t = np.asarray(ADPCM_INDEX, dtype=np.int64)
    b, k = c.shape
    pred = np.asarray(preds, dtype=np.int64).copy()
    idx = np.asarray(idxs, dtype=np.int64).copy()
    out = np.empty((b, k), dtype=np.int16)
    for i in range(k):
        code = c[:, i]
        step = steps_t[idx]
        vpdiff = (
            (step >> 3)
            + np.where(code & 4, step, 0)
            + np.where(code & 2, step >> 1, 0)
            + np.where(code & 1, step >> 2, 0)
        )
        pred = np.where(code & 8, pred - vpdiff, pred + vpdiff)
        np.clip(pred, -32768, 32767, out=pred)
        idx = np.clip(idx + index_t[code & 7], 0, 88)
        out[:, i] = pred
    return out


def _adpcm_block_inputs(arr: "object") -> "tuple[object, object, object]":
    """Split a mono int16 signal into tag-0x11 block-encode inputs:
    (preds (B,), samples (B, 504) int64 zero-padded, valid (B,) code
    counts). Block b's header carries its first sample verbatim; the
    remaining samples quantize forward. Rows from many signals can be
    concatenated and fed to ``adpcm_encode_blocks`` in one lockstep
    call — ``encode_wav_adpcm_batch`` does exactly that, and the
    ADPCM synth Arrow kernel routes whole batches through it."""
    import numpy as np

    k = ADPCM_SAMPLES_PER_BLOCK - 1
    n = arr.shape[0]
    nb = (n + ADPCM_SAMPLES_PER_BLOCK - 1) // ADPCM_SAMPLES_PER_BLOCK
    preds = np.empty(nb, dtype=np.int64)
    valid = np.empty(nb, dtype=np.int64)
    mat = np.zeros((nb, k), dtype=np.int64)
    for bi in range(nb):
        chunk = arr[
            bi * ADPCM_SAMPLES_PER_BLOCK : (bi + 1) * ADPCM_SAMPLES_PER_BLOCK
        ]
        preds[bi] = int(chunk[0])
        v = chunk.shape[0] - 1
        valid[bi] = v
        mat[bi, :v] = chunk[1:]
    return preds, mat, valid


def _adpcm_pack_blocks(
    codes: "object", preds: "object", valid: "object"
) -> "list[bytes]":
    """(B, 504) code matrix → 256-byte block blobs (4-byte header +
    low-nibble-first packed body). Codes at positions >= each block's
    valid count are zeroed first — the WAV padding convention is to
    pad CODES, never to encode the padding samples, and because the
    state machine only flows forward the overwrite cannot disturb the
    valid prefix."""
    import numpy as np

    k = codes.shape[1]
    c = codes.astype(np.uint8).copy()
    c[np.arange(k)[None, :] >= valid[:, None]] = 0
    body = (c[:, 1::2] << 4) | c[:, 0::2]  # WAV: first sample in LOW nibble
    return [
        struct.pack("<hBB", int(preds[bi]), 0, 0) + body[bi].tobytes()
        for bi in range(c.shape[0])
    ]


def _adpcm_riff(data: bytes, n: int, sample_rate: int) -> bytes:
    """Wrap packed tag-0x11 block data as a RIFF/WAVE file: extended
    fmt chunk (block align 256, 505 samples/block) plus the ``fact``
    chunk the spec requires for compressed formats (true sample count
    — the decoder truncates the zero-padded last block to it)."""
    byte_rate = (sample_rate * ADPCM_BLOCK_ALIGN) // ADPCM_SAMPLES_PER_BLOCK
    fmt = struct.pack(
        "<HHIIHHHH",
        WAVE_TAG_IMA_ADPCM, 1, sample_rate, byte_rate,
        ADPCM_BLOCK_ALIGN, 4, 2, ADPCM_SAMPLES_PER_BLOCK,
    )
    fact = struct.pack("<I", n)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"fact" + struct.pack("<I", len(fact)) + fact
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def encode_wav_adpcm(samples: "object", sample_rate: int) -> bytes:
    """Encode a mono int16 array as a WAV tag-0x11 IMA-ADPCM file.
    Blocks are independent (predictor = first sample, step index reset
    to 0 — the seekability property block formats exist for); the last
    block is zero-nibble padded and a ``fact`` chunk records the true
    sample count for the decoder to truncate to. The
    quantizer runs through the lockstep ``adpcm_encode_blocks`` kernel
    (this signal's blocks as the lanes)."""
    import numpy as np

    arr = np.asarray(samples, dtype=np.int16).reshape(-1)
    n = arr.shape[0]
    if n == 0:
        raise ValueError("ADPCM encode needs at least one sample")
    preds, mat, valid = _adpcm_block_inputs(arr)
    codes = adpcm_encode_blocks(mat, preds)
    return _adpcm_riff(
        b"".join(_adpcm_pack_blocks(codes, preds, valid)), n, sample_rate
    )


def encode_wav_adpcm_batch(
    signals: "object", sample_rate: "int | list[int]"
) -> "list[bytes]":
    """Cross-signal lockstep encode: the block rows of MANY signals
    are concatenated into ONE ``adpcm_encode_blocks`` call (a 500-row
    Arrow batch of ~2-block signals becomes ~1000 lanes advancing
    together), then packed back per signal. Blocks are independent
    state machines, so the result is byte-identical to mapping
    ``encode_wav_adpcm`` over the signals — pinned by
    tests/test_extensions.py::test_adpcm_batch_matches_per_signal.
    ``sample_rate`` is one rate for all signals or a per-signal list
    (the rate only shapes the RIFF header, never the quantizer, so
    mixed-rate batches still share the one lockstep call). Returns
    one WAV payload per input signal."""
    import numpy as np

    arrs = [np.asarray(s, dtype=np.int16).reshape(-1) for s in signals]
    if any(a.shape[0] == 0 for a in arrs):
        raise ValueError("ADPCM encode needs at least one sample")
    if not arrs:
        return []
    rates = (
        list(sample_rate)
        if isinstance(sample_rate, (list, tuple))
        else [sample_rate] * len(arrs)
    )
    if len(rates) != len(arrs):
        raise ValueError("one sample rate per signal required")
    inputs = [_adpcm_block_inputs(a) for a in arrs]
    codes = adpcm_encode_blocks(
        np.vstack([mat for _, mat, _ in inputs]),
        np.concatenate([preds for preds, _, _ in inputs]),
    )
    out, off = [], 0
    for arr, rate, (preds, _mat, valid) in zip(arrs, rates, inputs):
        nb = preds.shape[0]
        out.append(
            _adpcm_riff(
                b"".join(_adpcm_pack_blocks(codes[off : off + nb], preds, valid)),
                arr.shape[0],
                rate,
            )
        )
        off += nb
    return out


def _wav_fact_samples(payload: bytes) -> "int | None":
    """Re-walk a validated RIFF payload for its ``fact`` chunk sample
    count (None when absent). Shared by the ADPCM decoder and the
    format probe — the walk (including word-aligned chunk stepping)
    must not drift between them; later fact chunks win, matching the
    original inline walks."""
    n_total = None
    pos = 12
    while pos + 8 <= len(payload):
        ctype = payload[pos : pos + 4]
        (clen,) = struct.unpack_from("<I", payload, pos + 4)
        if ctype == b"fact" and clen >= 4:
            (n_total,) = struct.unpack_from("<I", payload, pos + 8)
        pos += 8 + clen + (clen % 2)
    return n_total


def _adpcm_parse_blocks(payload: bytes):
    """Parse a WAV tag-0x11 mono IMA-ADPCM payload into decode-kernel
    inputs: (preds (B,), idxs (B,), codes (B, K) int64, counts (B,)
    valid code counts, rate, fact-chunk total or None). All structure
    validation lives here (flavor, block align, truncated header,
    step-index range) so the single-payload and cross-payload batch
    decoders cannot drift; any malformed structure raises
    DecodeUnavailable. Nibble unpacking is one vectorized pass (WAV
    packs the earlier sample in the LOW nibble)."""
    import numpy as np

    fmt, data = parse_wav_chunks(payload)
    tag, ch, rate, _br, align, bits = fmt
    if tag != WAVE_TAG_IMA_ADPCM or bits != 4 or ch != 1 or rate <= 0:
        raise DecodeUnavailable(
            f"unsupported WAV flavor for ADPCM decode (tag={tag}, bits={bits})"
        )
    if align < 5:
        raise DecodeUnavailable("corrupt ADPCM block align")
    # fact chunk: re-walk for it (parse_wav_chunks keeps fmt/data only)
    n_total = _wav_fact_samples(payload)
    k = (align - 4) * 2
    nb = (len(data) + align - 1) // align
    if nb == 0:
        z = np.zeros(0, dtype=np.int64)
        return z, z, np.zeros((0, k), dtype=np.int64), z, rate, n_total
    last_len = len(data) - (nb - 1) * align
    if last_len < 4:
        raise DecodeUnavailable("truncated ADPCM block")
    buf = np.frombuffer(data, dtype=np.uint8)
    pad = nb * align - len(data)
    if pad:
        buf = np.concatenate([buf, np.zeros(pad, dtype=np.uint8)])
    blocks = buf.reshape(nb, align)
    preds = (
        np.ascontiguousarray(blocks[:, 0:2])
        .view(np.dtype("<i2"))[:, 0]
        .astype(np.int64)
    )
    idxs = blocks[:, 2].astype(np.int64)
    if (idxs > 88).any():
        raise DecodeUnavailable("corrupt ADPCM step index")
    body = blocks[:, 4:].astype(np.int64)
    codes = np.empty((nb, k), dtype=np.int64)
    codes[:, 0::2] = body & 0x0F
    codes[:, 1::2] = body >> 4
    counts = np.full(nb, k, dtype=np.int64)
    counts[-1] = min(k, (last_len - 4) * 2)
    return preds, idxs, codes, counts, rate, n_total


def _adpcm_assemble(
    preds: "object", dec: "object", counts: "object", n_total: "int | None"
) -> "object":
    """Interleave block headers (emitted verbatim) with each block's
    valid decoded prefix, in block order, then truncate to the fact
    count. Row-major boolean masking preserves the [header, samples…]
    per-block layout without a Python loop."""
    import numpy as np

    b = preds.shape[0]
    k = dec.shape[1] if dec.ndim == 2 else 0
    full = np.empty((b, k + 1), dtype=np.int16)
    full[:, 0] = preds.astype(np.int16)
    full[:, 1:] = dec
    vm = np.empty((b, k + 1), dtype=bool)
    vm[:, 0] = True
    vm[:, 1:] = np.arange(k)[None, :] < np.asarray(counts)[:, None]
    arr = full[vm]
    if n_total is not None:
        arr = arr[:n_total]
    return arr


def decode_wav_adpcm(payload: bytes) -> "tuple[object, int]":
    """Decode a WAV tag-0x11 mono IMA-ADPCM payload into ((n,) int16
    array, rate). Any other flavor raises DecodeUnavailable. The
    ``fact`` chunk (required by the spec for compressed formats)
    truncates the zero-padded last block. This runs the
    payload's blocks as lanes through the lockstep
    ``adpcm_decode_blocks`` kernel (the inverse of the encode side's
    lockstep kernel) — the per-sample Python loop only survives in
    ``adpcm_decode_stream`` as the test pin."""
    preds, idxs, codes, counts, rate, n_total = _adpcm_parse_blocks(payload)
    dec = adpcm_decode_blocks(codes, preds, idxs)
    return _adpcm_assemble(preds, dec, counts, n_total), rate


def decode_wav_adpcm_batch(payloads: "object") -> "list[object]":
    """Cross-payload lockstep decode — the inverse of
    ``encode_wav_adpcm_batch``: every parseable payload's block rows
    are concatenated into ONE ``adpcm_decode_blocks`` call (~1000
    lanes at a 500-row Arrow batch), then reassembled per payload.
    Per-payload error isolation is preserved: entries are either
    (samples, rate) tuples or the DecodeUnavailable instance that
    payload raised — sample-identical to mapping ``decode_wav_adpcm``
    (pinned by tests/test_extensions.py::
    test_adpcm_batch_matches_per_signal). Payloads with different
    block aligns decode together; shorter blocks are zero-padded to
    the widest K and masked off by their valid counts."""
    import numpy as np

    results: "list[object]" = [None] * len(payloads)
    parsed = []
    for i, payload in enumerate(payloads):
        try:
            parsed.append((i, _adpcm_parse_blocks(payload)))
        except DecodeUnavailable as exc:
            results[i] = exc
    if not parsed:
        return results
    kmax = max(t[2].shape[1] for _, t in parsed)
    mats, preds_l, idxs_l = [], [], []
    for _, (preds, idxs, codes, _counts, _rate, _n) in parsed:
        if codes.shape[1] < kmax:
            codes = np.pad(codes, ((0, 0), (0, kmax - codes.shape[1])))
        mats.append(codes)
        preds_l.append(preds)
        idxs_l.append(idxs)
    dec = adpcm_decode_blocks(
        np.vstack(mats), np.concatenate(preds_l), np.concatenate(idxs_l)
    )
    off = 0
    for i, (preds, _idxs, _codes, counts, rate, n_total) in parsed:
        nb = preds.shape[0]
        results[i] = (
            _adpcm_assemble(preds, dec[off : off + nb], counts, n_total),
            rate,
        )
        off += nb
    return results


# ----------------------------------------------------- distributed operators

G711_FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("ok", StringType(), False),
        StructField("law", StringType(), True),
        StructField("sample_rate", LongType(), True),
        StructField("n_samples", LongType(), True),
        StructField("peak_pos", LongType(), True),
        StructField("peak_neg", LongType(), True),
        StructField("sum_samples", LongType(), True),
        StructField("sum_abs", LongType(), True),
    ]
)


def synth_g711_media(documents: DataFrame) -> DataFrame:
    """Deterministic G.711 WAV payloads per document — the compressed
    twin of ``synth_wav_media``: each doc_id fixes a mono square wave
    (amplitude 1000 + (doc_id%20)·500, half-period 2 + doc_id%7
    samples, 400 + (doc_id%5)·80 samples at 8 kHz), companded through
    the REAL ``mulaw_encode``/``alaw_encode`` (law chosen by
    doc_id%2) inside the Arrow kernel. Every doc_id % 11 == 0 row
    instead carries a REAL-but-unsupported flavor (a well-formed WAV
    with format tag 2, MS-ADPCM), putting flavor rejection — not just
    junk-bytes rejection — under the oracle gate. Square-wave samples
    are all ±amplitude, and G.711 is memoryless per sample, so every
    decoded statistic is closed-form in doc_id via the published
    segment/mantissa arithmetic — which is what lets a SQL oracle
    check the distributed compand→decode roundtrip exactly."""
    import numpy as np

    from .media_harness import per_doc, synth_media

    bad_fmt = struct.pack("<HHIIHH", 2, 1, 8000, 8000, 1, 4)
    # RIFF content size = "WAVE" + fmt chunk + data chunk, computed
    # (a wrong literal here would quietly turn the flavor-rejection
    # lane into a junk-rejection lane if the walker ever honors it)
    bad_body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(bad_fmt)) + bad_fmt
        + b"data" + struct.pack("<I", 4) + b"\x00\x00\x00\x00"
    )
    bad = b"RIFF" + struct.pack("<I", len(bad_body)) + bad_body

    def make_row(did: int):
        if did % 11 == 0:
            return "audio/wav", bad
        law = "mulaw" if did % 2 == 0 else "alaw"
        amp = 1000 + (did % 20) * 500
        period = 2 + did % 7
        n = 400 + (did % 5) * 80
        i = np.arange(n)
        sign = np.where((i // period) % 2 == 0, 1, -1)
        samples = (sign * amp).astype(np.int16)
        return f"audio/wav;codec={law}", encode_wav_g711(samples, 8000, law)

    return synth_media(documents, per_doc(make_row), "audio")


def audio_g711_features(media: DataFrame) -> DataFrame:
    """Distributed G.711 feature pass: decode tag-6/7 payloads through
    the REAL expanders and emit exact-integer statistics of the
    decoded 16-bit signal (peaks, sum, sum of absolutes — the
    silence/clipping triage features, kept integral so an oracle can
    match them exactly). Unsupported flavors and corrupt payloads
    surface as ok=false rows."""
    import numpy as np

    from .media_harness import media_features

    def extract(payload):
        arr, rate, law = decode_wav_g711(payload)
        flat = arr.astype(np.int64).reshape(-1)
        return [
            {
                "law": law,
                "sample_rate": rate,
                "n_samples": arr.shape[0],
                "peak_pos": int(flat.max()) if flat.size else 0,
                "peak_neg": int(flat.min()) if flat.size else 0,
                "sum_samples": int(flat.sum()),
                "sum_abs": int(np.abs(flat).sum()),
            }
        ]

    return media_features(media, G711_FEATURE_SCHEMA, extract)


ADPCM_FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("ok", StringType(), False),
        StructField("sample_rate", LongType(), True),
        StructField("n_samples", LongType(), True),
        StructField("sum_decoded", LongType(), True),
        StructField("peak_pos", LongType(), True),
        StructField("peak_neg", LongType(), True),
    ]
)


def synth_adpcm_media(documents: DataFrame) -> DataFrame:
    """Deterministic IMA-ADPCM WAV payloads per document: each doc_id
    fixes a mono square wave (amplitude 600 + (doc_id%25)·400,
    half-period 2 + doc_id%6, 300 + (doc_id%4)·120 samples at 8 kHz)
    encoded through the REAL ``encode_wav_adpcm`` (tag 0x11, 256-byte
    independent blocks, fact-chunk truncation — lengths up to 660
    samples exercise the multi-block path). Every doc_id % 11 == 0
    row carries a REAL G.711 μ-law WAV instead, putting cross-flavor
    rejection under the gate. ADPCM is stateful, so the features are
    NOT closed-form — the SQL oracle replays the full encoder/decoder
    state machine as a recursive CTE over the published step tables."""
    import numpy as np

    from .media_harness import synth_media

    bad = encode_wav_g711(np.full(16, 1000, dtype=np.int16), 8000, "mulaw")

    def make_rows(doc_ids):
        # Two passes: collect every ADPCM signal in the batch, then
        # quantize them all in ONE cross-signal lockstep call
        # (encode_wav_adpcm_batch — the whole batch's blocks as
        # lanes), then fill payloads back positionally.
        mimes, payloads, signals, signal_pos = [], [], [], []
        for did in doc_ids:
            if did % 11 == 0:
                mimes.append("audio/wav;codec=mulaw")
                payloads.append(bad)
                continue
            mimes.append("audio/wav;codec=ima-adpcm")
            amp = 600 + (did % 25) * 400
            period = 2 + did % 6
            n = 300 + (did % 4) * 120
            i = np.arange(n)
            sign = np.where((i // period) % 2 == 0, 1, -1)
            signals.append((sign * amp).astype(np.int16))
            signal_pos.append(len(payloads))
            payloads.append(None)
        for pos, payload in zip(
            signal_pos, encode_wav_adpcm_batch(signals, 8000)
        ):
            payloads[pos] = payload
        return mimes, payloads

    return synth_media(documents, make_rows, "audio")


def audio_adpcm_features(media: DataFrame) -> DataFrame:
    """Distributed IMA-ADPCM feature pass: decode tag-0x11 payloads
    through the REAL block decoder and emit exact-integer statistics
    of the reconstructed signal (payload-only — no side knowledge of
    the source wave). Unsupported flavors surface as ok=false rows.
    The whole Arrow batch decodes in ONE cross-payload lockstep call
    (``decode_wav_adpcm_batch``); per-payload DecodeUnavailable
    isolation survives as error entries in the result list."""
    import numpy as np

    from .media_harness import media_features

    def extract_batch(payloads):
        results = []
        for res in decode_wav_adpcm_batch(payloads):
            if isinstance(res, DecodeUnavailable):
                results.append(res)
                continue
            arr, rate = res
            flat = arr.astype(np.int64)
            results.append(
                [
                    {
                        "sample_rate": rate,
                        "n_samples": int(flat.shape[0]),
                        "sum_decoded": int(flat.sum()),
                        "peak_pos": int(flat.max()) if flat.size else 0,
                        "peak_neg": int(flat.min()) if flat.size else 0,
                    }
                ]
            )
        return results

    return media_features(
        media, ADPCM_FEATURE_SCHEMA, extract_batch=extract_batch
    )


def q_audio_adpcm(documents: DataFrame) -> DataFrame:
    """Declared query: the full distributed IMA-ADPCM loop —
    ``synth_adpcm_media`` (real tag-0x11 block encode of square
    waves) → ``audio_adpcm_features`` (real block decode + exact
    integer stats). Unlike every other media oracle, the check cannot
    be closed-form: ADPCM is a per-sample adaptive state machine. The
    DuckDB oracle instead REPLAYS the machine — a recursive CTE over
    the published 89-entry step table and index table, anchored per
    256-byte block (predictor = first sample, index 0), quantizing
    the same square wave the synth stage generates — so the encoder's
    quantizer, the decoder's reconstruction, block independence,
    nibble packing and fact-chunk truncation are all differentially
    verified against an independent engine's execution of the same
    published algorithm.

    Scale: two chained mapInPandas passes, zero shuffles before the
    presentation sort."""
    return audio_adpcm_features(synth_adpcm_media(documents)).orderBy("media_id")


def q_audio_g711(documents: DataFrame) -> DataFrame:
    """Declared query: the full distributed G.711 loop —
    ``synth_g711_media`` (real μ-law/A-law companding of closed-form
    square waves) → ``audio_g711_features`` (real expansion + exact
    integer stats). The DuckDB oracle recomputes the companded
    amplitudes via the published G.711 segment/mantissa arithmetic in
    SQL (including the asymmetric negative branches: μ-law magnitudes
    go through an arithmetic >>2 then negate — a ceil — while A-law's
    negative branch is -pcm-1), the pos/neg sample counts of the
    square wave, and the flavor-rejection lane — so both codecs'
    encode AND decode arithmetic are differentially verified
    end-to-end, not just roundtrip-consistent.

    Scale: two chained mapInPandas passes, zero shuffles before the
    presentation sort — the canonical media-pass shape."""
    return audio_g711_features(synth_g711_media(documents)).orderBy("media_id")


# ------------------------------------------------------- Sun AU container

#: AU (Sun/NeXT .au) encoding codes — the header is big-endian:
#: ".snd", data offset, data size, encoding, rate, channels.
AU_ENC_MULAW = 1
AU_ENC_PCM16 = 3
AU_ENC_ALAW = 27


def encode_au(samples: "object", sample_rate: int, encoding: int) -> bytes:
    """Encode a mono/(n, ch) int16 array as a Sun AU file (encoding 1
    = G.711 μ-law, 27 = A-law — both reusing the pinned companders —
    or 3 = 16-bit big-endian PCM)."""
    import numpy as np

    arr = np.asarray(samples, dtype=np.int16)
    if arr.ndim == 1:
        arr = arr[:, None]
    n, ch = arr.shape
    if encoding == AU_ENC_MULAW:
        data = mulaw_encode(arr.reshape(-1)).astype(np.uint8).tobytes()
    elif encoding == AU_ENC_ALAW:
        data = alaw_encode(arr.reshape(-1)).astype(np.uint8).tobytes()
    elif encoding == AU_ENC_PCM16:
        data = arr.reshape(-1).astype(">i2").tobytes()
    else:
        raise ValueError(f"unsupported AU encoding {encoding}")
    return (
        b".snd"
        + struct.pack(">IIIII", 24, len(data), encoding, sample_rate, ch)
        + data
    )


def decode_au(payload: bytes) -> "tuple[object, int, str]":
    """Decode a Sun AU payload into ((n, ch) int16, rate, codec name).
    Encodings 1/27 expand through the pinned G.711 decoders; 3 is
    big-endian PCM. Anything else raises DecodeUnavailable."""
    import numpy as np

    if payload is None or len(payload) < 24 or payload[:4] != b".snd":
        raise DecodeUnavailable("not an AU payload")
    off, dsize, enc, rate, ch = struct.unpack(">IIIII", payload[4:24])
    if off < 24 or off > len(payload) or ch < 1 or rate <= 0:
        raise DecodeUnavailable("corrupt AU header")
    data = payload[off:]
    if dsize != 0xFFFFFFFF:
        if dsize > len(data):
            raise DecodeUnavailable("truncated AU data")
        data = data[:dsize]
    if enc == AU_ENC_MULAW:
        codes = np.frombuffer(data, dtype=np.uint8)
        flat = mulaw_decode(codes)
        name = "mulaw"
    elif enc == AU_ENC_ALAW:
        codes = np.frombuffer(data, dtype=np.uint8)
        flat = alaw_decode(codes)
        name = "alaw"
    elif enc == AU_ENC_PCM16:
        n16 = len(data) // 2
        flat = np.frombuffer(data, dtype=">i2", count=n16).astype(np.int16)
        name = "pcm16"
    else:
        raise DecodeUnavailable(f"unsupported AU encoding {enc}")
    n = flat.shape[0] // ch
    return flat[: n * ch].reshape(n, ch), rate, name


# ----------------------------------------------------- audio format dispatch

AUDIO_PROBE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("ok", StringType(), False),
        StructField("container", StringType(), True),
        StructField("codec", StringType(), True),
        StructField("sample_rate", LongType(), True),
        StructField("n_channels", LongType(), True),
        StructField("n_samples", LongType(), True),
    ]
)

#: magics the probe RECOGNIZES but cannot decode (honest boundary)
_KNOWN_UNSUPPORTED = (
    (b"fLaC", "flac"),
    (b"OggS", "ogg"),
    (b"ID3", "mp3"),
    (b"\xff\xfb", "mp3"),
)


def probe_audio(payload: bytes) -> "tuple[str, str, int, int, int]":
    """Identify an audio payload WITHOUT fully decoding samples:
    returns (container, codec, rate, channels, n_samples). Dispatch
    covers every container/codec pair the engine decodes (WAV
    PCM/μ-law/A-law/IMA-ADPCM, AU μ-law/A-law/PCM16, and
    FLAC via its STREAMINFO block, ``operators/flac.py``);
    recognized-but-undecodable formats (OGG/MP3, and structurally
    invalid FLAC) and junk raise DecodeUnavailable — but with the
    distinction preserved by the distributed probe below, which
    reports the recognized container on the ok=false row."""
    if payload is not None and payload[:4] == b"fLaC":
        from node_js_etl_processor_spark.operators.flac import (
            parse_flac_streaminfo,
        )

        rate, ch, _bits, total = parse_flac_streaminfo(payload)
        return "flac", "flac", rate, ch, total
    if payload is not None and payload[:4] == b".snd":
        if len(payload) < 24:
            raise DecodeUnavailable("truncated AU header")
        off, dsize, enc, rate, ch = struct.unpack(">IIIII", payload[4:24])
        name = {AU_ENC_MULAW: "mulaw", AU_ENC_ALAW: "alaw",
                AU_ENC_PCM16: "pcm16"}.get(enc)
        if name is None or off < 24 or off > len(payload) or ch < 1 or rate <= 0:
            raise DecodeUnavailable(
                f"unsupported or corrupt AU header (enc={enc}, off={off})"
            )
        nbytes = min(dsize, len(payload) - off) if dsize != 0xFFFFFFFF else (
            len(payload) - off
        )
        samp = nbytes // (2 * ch) if name == "pcm16" else nbytes // ch
        return "au", name, rate, ch, samp
    fmt, data = parse_wav_chunks(payload)  # raises for junk
    tag, ch, rate, _br, align, bits = fmt
    if ch < 1 or rate <= 0:
        raise DecodeUnavailable(f"corrupt WAV fmt (ch={ch}, rate={rate})")
    if tag == WAVE_TAG_PCM and bits == 16:
        return "wav", "pcm16", rate, ch, len(data) // (2 * ch)
    if tag in (WAVE_TAG_MULAW, WAVE_TAG_ALAW) and bits == 8:
        name = "mulaw" if tag == WAVE_TAG_MULAW else "alaw"
        return "wav", name, rate, ch, len(data) // ch
    if tag == WAVE_TAG_IMA_ADPCM and bits == 4 and ch == 1:
        if align < 5:
            raise DecodeUnavailable("corrupt ADPCM block align")
        # sample count from the fact chunk (authoritative for ADPCM)
        n_total = _wav_fact_samples(payload)
        if n_total is None:
            spb = (align - 4) * 2 + 1
            n_total = (len(data) // align) * spb
        return "wav", "ima-adpcm", rate, ch, n_total
    raise DecodeUnavailable(f"unsupported WAV flavor (tag={tag}, bits={bits})")


def synth_mixed_audio_media(documents: DataFrame) -> DataFrame:
    """Deterministic MIXED-FORMAT audio payloads: doc_id%7 selects
    among the seven decodable container/codec pairs (WAV PCM, WAV
    μ-law, WAV A-law, WAV IMA-ADPCM, AU μ-law, AU A-law, AU PCM16),
    all real encoders; every doc_id%11==0 row carries a TRUNCATED
    FLAC header — a recognized container that is structurally
    undecodable (valid subset FLAC decodes via ``operators/flac.py``),
    so the probe's honest boundary (report the container,
    refuse the decode) stays under the oracle gate."""
    import numpy as np

    from .media_harness import synth_media

    def make_rows(doc_ids):
        # whole-batch form so the ADPCM lane (v == 3) can run ONE
        # cross-signal lockstep encode — per-signal lockstep on a
        # single ~1-block lane is SLOWER than the old scalar loop
        # (503 numpy steps over 1-lane arrays), a 5.2x probe
        # ratio on a 10x corpus
        mimes, payloads = [], []
        adpcm_sigs, adpcm_rates, adpcm_pos = [], [], []
        for did in doc_ids:
            if did % 11 == 0:
                mimes.append("audio/flac")
                payloads.append(b"fLaC\x00\x00\x00\x22" + bytes(16))
                continue
            n = 200 + (did % 5) * 40
            rate = 8000 * (1 + did % 2)
            amp = 900 + (did % 10) * 300
            i = np.arange(n)
            sig = (np.where((i // 3) % 2 == 0, 1, -1) * amp).astype(np.int16)
            v = did % 7
            if v == 0:
                mimes.append("audio/wav")
                payloads.append(encode_wav(sig, rate))
            elif v == 1:
                mimes.append("audio/wav")
                payloads.append(encode_wav_g711(sig, rate, "mulaw"))
            elif v == 2:
                mimes.append("audio/wav")
                payloads.append(encode_wav_g711(sig, rate, "alaw"))
            elif v == 3:
                mimes.append("audio/wav")
                adpcm_sigs.append(sig)
                adpcm_rates.append(rate)
                adpcm_pos.append(len(payloads))
                payloads.append(None)
            elif v == 4:
                mimes.append("audio/basic")
                payloads.append(encode_au(sig, rate, AU_ENC_MULAW))
            elif v == 5:
                mimes.append("audio/basic")
                payloads.append(encode_au(sig, rate, AU_ENC_ALAW))
            else:
                mimes.append("audio/basic")
                payloads.append(encode_au(sig, rate, AU_ENC_PCM16))
        for pos, payload in zip(
            adpcm_pos, encode_wav_adpcm_batch(adpcm_sigs, adpcm_rates)
        ):
            payloads[pos] = payload
        return mimes, payloads

    return synth_media(documents, make_rows, "audio")


def audio_probe_features(media: DataFrame) -> DataFrame:
    """Distributed format dispatch: probe every payload's container/
    codec/geometry without decoding samples. Recognized-but-
    undecodable magics (OGG/MP3, plus structurally invalid FLAC —
    valid subset FLAC probes fully) surface as ok=false
    WITH the container named — the triage a 100 TB audio lake runs
    before routing payloads to format-specific decode passes."""
    from .media_harness import media_features

    def extract(payload):
        b = payload if payload is not None else b""
        try:
            cont, codec, rate, ch, n = probe_audio(b)
        except DecodeUnavailable:
            known = next(
                (name for magic, name in _KNOWN_UNSUPPORTED if b.startswith(magic)),
                None,
            )
            if known is not None:
                # recognized-but-refused: ok=false WITH the container named
                return [{"ok": "false", "container": known}]
            raise
        return [
            {
                "container": cont,
                "codec": codec,
                "sample_rate": rate,
                "n_channels": ch,
                "n_samples": n,
            }
        ]

    return media_features(media, AUDIO_PROBE_SCHEMA, extract)


def q_audio_probe(documents: DataFrame) -> DataFrame:
    """Declared query: the audio format-dispatch loop —
    ``synth_mixed_audio_media`` (all seven REAL container/codec
    pairs) → ``audio_probe_features`` (magic + header parsing, no
    sample decode). The oracle recomputes container/codec/rate/
    channels/sample-count closed-form from doc_id and replays the
    FLAC lane as ok=false WITH the container recognized — pinning
    the dispatch table itself, the piece that routes a mixed 100 TB
    audio lake to the right decode pass."""
    return audio_probe_features(synth_mixed_audio_media(documents)).orderBy(
        "media_id"
    )
