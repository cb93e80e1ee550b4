"""Multimodal column plumbing: image/audio/video as opaque binary.

The engine models multimodal payloads as ``binary`` columns with a
typed metadata struct alongside (modality, mime, width/height or
duration, sha). The Spark-side plumbing — schema, Arrow batch shape,
``mapInPandas`` partitioning — is real and tested; the actual
decode/resize/frame-sample kernels depend on codec libraries that are
NOT in this container and are stubbed behind ``DecodeUnavailable`` /
deterministic fakes, clearly marked.

Scale design: binary payloads are the dominant bytes at 100 TB, so
every operator (a) prunes metadata-only queries to the metadata struct
so the parquet scan never touches the blob column, and (b) processes
blobs with ``mapInPandas`` (Arrow-batched, one pass, no shuffle) with
``spark.sql.files.maxPartitionBytes`` sizing the per-task batch.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

#: Canonical multimodal record schema.
MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("modality", StringType(), False),  # image | audio | video
        StructField("mime", StringType(), True),
        StructField("payload", BinaryType(), True),
        StructField("sha256", StringType(), True),
        StructField("n_bytes", LongType(), True),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("modality", StringType(), False),
        StructField("n_bytes", LongType(), True),
        StructField("feature_dim", LongType(), True),
        StructField("feature_l2", StringType(), True),
    ]
)


class DecodeUnavailable(NotImplementedError):
    """Raised by real-decode paths: codec libraries (Pillow/ffmpeg/
    torchaudio) are not available in this environment. The deterministic
    fake decoder below keeps the distributed plumbing testable."""


def documents_as_media(documents: DataFrame) -> DataFrame:
    """Adapt the documents fixture into the media schema (text bytes as
    the opaque payload) — exercises the binary plumbing on real data."""
    return documents.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("modality"),
        F.lit("application/octet-stream").alias("mime"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.sha2(F.encode(F.col("text"), "UTF-8"), 256).alias("sha256"),
        F.octet_length(F.encode(F.col("text"), "UTF-8")).cast("bigint").alias("n_bytes"),
    )


def decode_image(payload: bytes) -> object:
    """Decode an image payload to an H×W×3 uint8 raster. Real for
    uncompressed 24-bit BMP (pure stdlib+numpy — see ``decode_bmp``),
    non-interlaced 8-bit RGB/RGBA PNG (stdlib zlib + unfilter — see
    ``decode_png``), and baseline-sequential JFIF (stdlib
    Huffman + IDCT, ``operators.jpeg.decode_jpeg``); every other
    format needs Pillow/opencv (absent here)."""
    if payload is not None and payload[:2] == b"BM":
        return decode_bmp(payload)
    if payload is not None and payload[:8] == _PNG_SIG:
        return decode_png(payload)
    if payload is not None and payload[:2] == b"\xff\xd8":
        from node_js_etl_processor_spark.operators.jpeg import decode_jpeg

        return decode_jpeg(payload)
    if payload is not None and payload[:6] in (b"GIF87a", b"GIF89a"):
        from node_js_etl_processor_spark.operators.gif import decode_gif

        return decode_gif(payload)
    raise DecodeUnavailable(
        "non-BMP/PNG/JPEG/GIF decode requires Pillow/opencv; not in container"
    )


# ------------------------------------------------- stdlib BMP raster path
#
# The container has no codec libraries, but uncompressed 24-bit BMP
# (BITMAPINFOHEADER, BI_RGB) is simple enough to en/decode with struct
# + numpy alone — giving the resize kernel a REAL pixel grid to operate
# on instead of only the byte-raster fake. Layout: 14-byte file header,
# 40-byte info header, bottom-up rows of BGR triplets padded to 4-byte
# multiples. (Format reference: the public BITMAPFILEHEADER /
# BITMAPINFOHEADER layout.)

_BMP_FILE_HEADER = "<2sIHHI"  # magic, file size, res1, res2, pixel offset
_BMP_INFO_HEADER = "<IiiHHIIiiII"  # size, w, h, planes, bpp, comp, imgsize, ...


def encode_bmp(pixels: "object") -> bytes:
    """Encode an H×W×3 uint8 RGB array as an uncompressed 24-bit BMP
    (bottom-up, BI_RGB, rows padded to 4 bytes)."""
    import struct

    import numpy as np

    arr = np.asarray(pixels, dtype=np.uint8)
    h, w, _ = arr.shape
    row_bytes = w * 3
    pad = (-row_bytes) % 4
    # BGR order, bottom row first, per-row padding
    bgr = arr[::-1, :, ::-1]
    rows = b"".join(bgr[r].tobytes() + b"\x00" * pad for r in range(h))
    img_size = len(rows)
    offset = 14 + 40
    header = struct.pack(_BMP_FILE_HEADER, b"BM", offset + img_size, 0, 0, offset)
    info = struct.pack(_BMP_INFO_HEADER, 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0)
    return header + info + rows


def decode_bmp(payload: bytes) -> "object":
    """Decode an uncompressed 24-bit BMP into an H×W×3 uint8 RGB array.
    Raises DecodeUnavailable for any other BMP flavor (compressed,
    paletted, top-down with other depths) — those need a real codec."""
    import struct

    import numpy as np

    if payload is None or payload[:2] != b"BM":
        raise DecodeUnavailable("not a BMP payload")
    if len(payload) < 14 + 40:
        raise DecodeUnavailable("truncated BMP header")
    magic, _fsize, _r1, _r2, offset = struct.unpack_from(_BMP_FILE_HEADER, payload, 0)
    hdr_size, w, h, _planes, bpp, comp = struct.unpack_from("<IiiHHI", payload, 14)
    if hdr_size < 40 or bpp != 24 or comp != 0:
        raise DecodeUnavailable(f"unsupported BMP flavor (bpp={bpp}, comp={comp})")
    bottom_up = h > 0
    h = abs(h)
    row_bytes = w * 3
    stride = row_bytes + ((-row_bytes) % 4)
    # bound-check geometry against the actual payload BEFORE touching
    # the raster: a corrupt blob must fail as DecodeUnavailable (one
    # skippable record), not as an opaque executor numpy/struct error
    # that kills the whole distributed pass
    if w <= 0 or h <= 0 or offset < 54 or offset > len(payload):
        raise DecodeUnavailable(
            f"corrupt BMP geometry (w={w}, h={h}, offset={offset})"
        )
    if offset + stride * h > len(payload):
        raise DecodeUnavailable(
            f"BMP raster exceeds payload ({stride * h} bytes at {offset}, "
            f"payload {len(payload)})"
        )
    raster = np.frombuffer(payload, dtype=np.uint8, count=stride * h, offset=offset)
    rows = raster.reshape(h, stride)[:, :row_bytes].reshape(h, w, 3)
    if bottom_up:
        rows = rows[::-1]
    return rows[:, :, ::-1].copy()  # BGR -> RGB


# ------------------------------------------------- stdlib PNG raster path
#
# PNG's container is stdlib-decodable too: zlib inflate + the five
# per-scanline filters (PNG spec §9, public W3C/RFC 2083 layout).
# Supported flavor: non-interlaced 8-bit truecolor (RGB) and
# truecolor-alpha (RGBA, alpha dropped to keep the H×W×3 raster
# contract); everything else (palette, 16-bit, interlace) raises
# DecodeUnavailable like any other unsupported codec flavor.

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunks(payload: bytes):
    """Yield (type, data) chunks, bounds-checked — corrupt lengths
    raise DecodeUnavailable, never a slice/struct error."""
    import struct

    pos = 8
    while pos + 8 <= len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4 : pos + 8]
        if length > len(payload) - pos - 12:
            raise DecodeUnavailable("corrupt PNG chunk length")
        yield ctype, payload[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + type + data + crc
        if ctype == b"IEND":
            return
    raise DecodeUnavailable("PNG ended without IEND")


def _png_unfilter(raw: bytes, h: int, w: int, nch: int) -> "object":
    """Reverse the per-scanline PNG filters (types 0–4: None, Sub, Up,
    Average, Paeth) into an H×W×nch uint8 array. Sub/Paeth are
    sequential along x, so rows decode with a per-pixel loop — fine at
    kernel-batch scale; the distributed form batches rows per task."""
    import numpy as np

    stride = w * nch
    if len(raw) != h * (stride + 1):
        raise DecodeUnavailable(
            f"PNG raster size mismatch ({len(raw)} != {h * (stride + 1)})"
        )
    out = np.zeros((h, stride), dtype=np.int32)
    raw_arr = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride + 1).astype(np.int32)
    for y in range(h):
        ftype, row = raw_arr[y, 0], raw_arr[y, 1:].copy()
        prev = out[y - 1] if y > 0 else np.zeros(stride, dtype=np.int32)
        if ftype == 0:
            pass
        elif ftype == 1:  # Sub
            for x in range(nch, stride):
                row[x] = (row[x] + row[x - nch]) & 0xFF
        elif ftype == 2:  # Up
            row = (row + prev) & 0xFF
        elif ftype == 3:  # Average
            for x in range(stride):
                a = row[x - nch] if x >= nch else 0
                row[x] = (row[x] + (a + prev[x]) // 2) & 0xFF
        elif ftype == 4:  # Paeth
            for x in range(stride):
                a = row[x - nch] if x >= nch else 0
                b = prev[x]
                c = prev[x - nch] if x >= nch else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                row[x] = (row[x] + pred) & 0xFF
        else:
            raise DecodeUnavailable(f"unknown PNG filter type {ftype}")
        out[y] = row
    return out.astype(np.uint8).reshape(h, w, nch)


def decode_png(payload: bytes) -> "object":
    """Decode a non-interlaced 8-bit RGB/RGBA PNG into an H×W×3 uint8
    RGB array (alpha dropped). Pure stdlib zlib + numpy; any other
    flavor raises DecodeUnavailable."""
    import struct
    import zlib

    import numpy as np

    if payload is None or payload[:8] != _PNG_SIG:
        raise DecodeUnavailable("not a PNG payload")
    w = h = None
    nch = 0
    idat = b""
    for ctype, data in _png_chunks(payload):
        if ctype == b"IHDR":
            if len(data) != 13:
                raise DecodeUnavailable("corrupt PNG IHDR")
            w, h, depth, color, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", data
            )
            if depth != 8 or color not in (2, 6) or interlace != 0 or comp != 0:
                raise DecodeUnavailable(
                    f"unsupported PNG flavor (depth={depth}, color={color}, "
                    f"interlace={interlace})"
                )
            nch = 3 if color == 2 else 4
            if w <= 0 or h <= 0 or w * h > 1 << 28:
                raise DecodeUnavailable(f"corrupt PNG geometry (w={w}, h={h})")
        elif ctype == b"IDAT":
            idat += data
    if w is None or not idat:
        raise DecodeUnavailable("PNG missing IHDR or IDAT")
    try:
        raw = zlib.decompress(idat)
    except zlib.error as e:
        raise DecodeUnavailable(f"PNG inflate failed: {e}") from e
    return _png_unfilter(raw, h, w, nch)[:, :, :3].copy()


def encode_png(pixels: "object") -> bytes:
    """Encode an H×W×3 uint8 RGB array as a non-interlaced 8-bit
    truecolor PNG (filter 0 scanlines, one zlib stream)."""
    import struct
    import zlib

    import numpy as np

    arr = np.asarray(pixels, dtype=np.uint8)
    h, w, _ = arr.shape

    def chunk(ctype: bytes, data: bytes) -> bytes:
        body = ctype + data
        return struct.pack(">I", len(data)) + body + struct.pack(
            ">I", zlib.crc32(body) & 0xFFFFFFFF
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = b"".join(b"\x00" + arr[y].tobytes() for y in range(h))
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def resize_raster(pixels: "object", out_w: int, out_h: int) -> "object":
    """Nearest-neighbor resize of an H×W×3 raster: source index for
    destination i is floor(i·src/dst) — the same sampling convention as
    the 1-D byte-raster fake, applied per axis."""
    import numpy as np

    arr = np.asarray(pixels)
    h, w = arr.shape[:2]
    ys = (np.arange(out_h) * h) // out_h
    xs = (np.arange(out_w) * w) // out_w
    return arr[ys][:, xs]


def _fake_feature(payload: bytes, dim: int = 8) -> list[float]:
    """Deterministic fake 'decoder': derives a feature vector from
    payload bytes alone (stand-in for embed(decode(payload))).
    Lane j is (sum of bytes at positions ≡ j mod dim) mod 997, scaled —
    the reference form of the vectorized kernel below (pinned equal in
    tests, and recomputed in SQL by the DuckDB oracle)."""
    if payload is None:
        return [0.0] * dim
    acc = [0] * dim
    for i, b in enumerate(payload):
        acc[i % dim] = (acc[i % dim] + b) % 997
    return [v / 997.0 for v in acc]


def _fake_feature_numpy(payload: bytes, dim: int = 8) -> "object":
    """Vectorized kernel: byte-slice sums instead of a per-byte Python
    loop. (acc+b)%997 folded per lane equals (Σb)%997, so strided
    slice-sums give the identical lanes ~30x faster — the pattern every
    real decode/embed kernel in this slot should follow (NumPy/Arrow
    batch ops, never per-byte Python)."""
    import numpy as np

    if payload is None:
        return np.zeros(dim)
    arr = np.frombuffer(payload, dtype=np.uint8).astype(np.int64)
    return np.array([int(arr[j::dim].sum()) % 997 for j in range(dim)]) / 997.0


def extract_features(media: DataFrame, dim: int = 8) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads via
    mapInPandas — the real distribution pattern for decode/resize/
    frame-sample kernels; only the kernel itself is faked.
    """
    import numpy as np
    import pandas as pd

    from node_js_etl_processor_spark.catalog import spread

    media = spread(media)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                _fake_feature_numpy(p, dim) for p in pdf["payload"]
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "modality": pdf["modality"],
                    "n_bytes": pdf["n_bytes"],
                    "feature_dim": np.int64(dim),
                    "feature_l2": [
                        f"{float(np.sqrt(np.dot(f, f))):.6f}" for f in feats
                    ],
                }
            )

    return media.mapInPandas(run, FEATURE_SCHEMA)


#: Output schema of the byte-raster resize pass.
RESIZE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("modality", StringType(), False),
        StructField("n_bytes", LongType(), True),
        StructField("out_bytes", LongType(), False),
        StructField("resized_md5", StringType(), False),
    ]
)

#: Output schema of the frame-sampling pass (one row per sampled frame).
FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("frame_no", LongType(), False),
        StructField("frame_bytes", LongType(), False),
        StructField("frame_md5", StringType(), False),
    ]
)

#: Fixed fake-resize output length / fake frame stride (bytes).
RESIZE_OUT_LEN = 64
FRAME_SIZE = 256
FRAME_STEP = 2  # sample every 2nd frame


def resize_image(payload: bytes, width: int, height: int) -> bytes:
    """Real image resize: decode → nearest-neighbor over the pixel
    grid → re-encode in the SOURCE format. Works end-to-end for
    uncompressed 24-bit BMP, non-interlaced 8-bit RGB/RGBA PNG,
    baseline JFIF and GIF — first composited frame, LZW
    re-encode — (stdlib struct/zlib/Huffman/LZW + numpy, no codec
    libraries needed); any other format raises DecodeUnavailable
    (Pillow/opencv absent)."""
    raster = resize_raster(decode_image(payload), width, height)
    if payload[:8] == _PNG_SIG:
        return encode_png(raster)
    if payload[:2] == b"\xff\xd8":
        from node_js_etl_processor_spark.operators.jpeg import encode_jpeg_baseline

        return encode_jpeg_baseline(raster)
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        from node_js_etl_processor_spark.operators.gif import encode_gif

        return encode_gif(raster)
    return encode_bmp(raster)


def resize_media_bmp(media: DataFrame, width: int, height: int) -> DataFrame:
    """Distributed REAL resize over BMP payloads: the same mapInPandas
    batch shape as ``resize_media``, but the kernel decodes an actual
    pixel grid, nearest-neighbor-resamples it, and re-encodes — the
    honest version of the thumbnail pass for the one format this
    container can decode. Emits output dims + md5 of the resized BMP
    bytes (digests travel, not thumbnails)."""
    import hashlib

    import pandas as pd

    from node_js_etl_processor_spark.catalog import spread

    schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("out_w", LongType(), False),
            StructField("out_h", LongType(), False),
            StructField("out_bytes", LongType(), False),
            StructField("resized_md5", StringType(), False),
        ]
    )

    def run(batches):
        for pdf in batches:
            out = {k: [] for k in ("media_id", "out_w", "out_h", "out_bytes", "resized_md5")}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                resized = resize_image(bytes(payload), width, height)
                out["media_id"].append(mid)
                out["out_w"].append(width)
                out["out_h"].append(height)
                out["out_bytes"].append(len(resized))
                out["resized_md5"].append(hashlib.md5(resized).hexdigest())
            yield pd.DataFrame(out)

    return spread(media).mapInPandas(run, schema)


def resize_media(media: DataFrame, out_len: int = RESIZE_OUT_LEN) -> DataFrame:
    """Arrow-batched 'resize' over binary payloads — the distribution
    pattern of a real thumbnail/rescale pass (mapInPandas, no shuffle,
    blob column streamed once per task). The kernel is the
    deterministic fake: nearest-neighbor downsample of the payload
    treated as a 1-D byte raster — sampled position j is
    ``floor(j·n/out_len)`` — emitting the MD5 of the sampled bytes'
    lowercase hex (the ``resized_md5`` field; a digest travels, not
    the thumbnail, so the oracle can recompute it in SQL byte for
    byte). A NULL payload yields NULL ``n_bytes`` (octet_length(NULL)
    semantics, pinned against the oracle) and the empty-string digest.
    Real codec resize is ``resize_image`` (DecodeUnavailable).
    """
    import hashlib

    import pandas as pd

    from node_js_etl_processor_spark.catalog import spread

    def run(batches):
        for pdf in batches:
            out = {"media_id": [], "modality": [], "n_bytes": [], "out_bytes": [], "resized_md5": []}
            for mid, mod, payload in zip(pdf["media_id"], pdf["modality"], pdf["payload"]):
                b = bytes(payload) if payload is not None else b""
                n = len(b)
                sampled = (
                    "".join(f"{b[(j * n) // out_len]:02x}" for j in range(out_len))
                    if n > 0
                    else ""
                )
                out["media_id"].append(mid)
                out["modality"].append(mod)
                # NULL payload stays NULL n_bytes (octet_length(NULL)
                # semantics — matches the SQL oracle); empty payload is 0
                out["n_bytes"].append(None if payload is None else n)
                out["out_bytes"].append(out_len if n > 0 else 0)
                out["resized_md5"].append(hashlib.md5(sampled.encode()).hexdigest())
            yield pd.DataFrame(out)

    return spread(media).mapInPandas(run, RESIZE_SCHEMA)


def sample_frames(
    media: DataFrame, frame_size: int = FRAME_SIZE, step: int = FRAME_STEP
) -> DataFrame:
    """Arrow-batched frame sampling — the video-pipeline pattern (one
    input row explodes into one row per sampled frame, all inside the
    Python worker: no Spark-side explode of blob columns). The fake
    'frames' are fixed ``frame_size``-byte strides of the payload and
    every ``step``-th frame is kept, emitting per-frame byte length +
    md5-of-hex digest; a real kernel would decode containers/keyframes
    (ffmpeg — DecodeUnavailable here) with the same batch shape.
    """
    import hashlib

    import pandas as pd

    from node_js_etl_processor_spark.catalog import spread

    def run(batches):
        for pdf in batches:
            out = {"media_id": [], "frame_no": [], "frame_bytes": [], "frame_md5": []}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload) if payload is not None else b""
                n = len(b)
                n_frames = (n + frame_size - 1) // frame_size
                for f in range(0, n_frames, step):
                    chunk = b[f * frame_size : (f + 1) * frame_size]
                    out["media_id"].append(mid)
                    out["frame_no"].append(f)
                    out["frame_bytes"].append(len(chunk))
                    out["frame_md5"].append(
                        hashlib.md5(chunk.hex().encode()).hexdigest()
                    )
            yield pd.DataFrame(out)

    return spread(media).mapInPandas(run, FRAME_SCHEMA)


def sample_gif_frames(media: DataFrame, step: int = FRAME_STEP) -> DataFrame:
    """REAL frame sampling — what ``sample_frames`` fakes with
    byte strides, run against an actual animated container: the GIF
    decoder (``operators.gif.decode_gif_frames``) composites every
    frame, and every ``step``-th one is emitted with its true
    geometry, delay and raster digest (md5 over the raster's lowercase
    hex — the ``sample_frames`` digest convention, chosen because a
    SQL oracle can rebuild a hex string with repeat()). Same batch
    shape and the same per-row failure isolation as the WAV path: a
    non-GIF or corrupt payload is one ok=false row, never an executor
    error. The frame explosion happens inside the Python worker —
    blobs are never exploded Spark-side."""
    import hashlib

    from node_js_etl_processor_spark.operators.gif import decode_gif_frames
    from node_js_etl_processor_spark.operators.media_harness import (
        media_features,
    )

    schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("ok", StringType(), False),
            StructField("frame_no", LongType(), True),
            StructField("n_frames", LongType(), True),
            StructField("width", LongType(), True),
            StructField("height", LongType(), True),
            StructField("delay_cs", LongType(), True),
            StructField("frame_md5", StringType(), True),
        ]
    )

    def extract(payload):
        frames, delays = decode_gif_frames(payload)
        return [
            {
                "frame_no": f,
                "n_frames": len(frames),
                "height": frames[f].shape[0],
                "width": frames[f].shape[1],
                "delay_cs": delays[f],
                "frame_md5": hashlib.md5(
                    frames[f].tobytes().hex().encode()
                ).hexdigest(),
            }
            for f in range(0, len(frames), step)
        ]

    return media_features(media, schema, extract)


def q_media_resize(documents: DataFrame) -> DataFrame:
    """Declared query: byte-raster 'resize' digest per media row over
    the docs-as-media fixture. Fully oracle-checked — the DuckDB SQL
    reproduces the nearest-neighbor sampling positions and the
    md5-of-lowercase-hex digest from the same UTF-8 bytes."""
    return resize_media(documents_as_media(documents)).orderBy("media_id")


def q_frame_sample(documents: DataFrame) -> DataFrame:
    """Declared query: every-2nd-256-byte-frame sampling with per-frame
    digests over the docs-as-media fixture. Fully oracle-checked (frame
    boundaries + digests recomputed in SQL)."""
    return sample_frames(documents_as_media(documents)).orderBy("media_id", "frame_no")


def q_binary_meta(documents: DataFrame) -> DataFrame:
    """Declared query: metadata-only pass over binary payloads —
    byte length + content digest, computed JVM-side (oracle-checked).

    Scale note: in a real media table this projection never reads the
    payload column (digest/length precomputed at ingest); here they are
    derived inline since the fixture stores text.
    """
    payload = F.encode(F.col("text"), "UTF-8")
    return documents.select(
        "doc_id",
        F.octet_length(payload).cast("bigint").alias("n_bytes"),
        F.sha2(payload, 256).alias("content_sha"),
    )


def q_multimodal_features(documents: DataFrame) -> DataFrame:
    """Declared query: full multimodal pipeline — adapt docs to the
    media schema, run Arrow-batched feature extraction via mapInPandas,
    return per-media features. Fully oracle-checked: the fake decode
    kernel is byte-deterministic (per-lane byte sums mod 997), so the
    DuckDB oracle recomputes it from the UTF-8 bytes in SQL — the
    Python kernel's output is differentially verified, not just
    row-counted.

    Scale: this is the canonical 100 TB media pass — no shuffle at all;
    each task Arrow-streams its parquet split through the Python worker
    once, batch size governed by spark.sql.execution.arrow.maxRecordsPerBatch.
    """
    return extract_features(documents_as_media(documents)).orderBy("media_id")


# ------------------------------------------------- stdlib WAV audio path
#
# PCM WAV is the audio analogue of the BMP/PNG paths: a RIFF container
# with a fmt chunk and raw samples, fully decodable with struct+numpy
# (public RIFF/WAVE layout). Supported flavor: PCM (format tag 1),
# 16-bit, any channel count / sample rate; other encodings (float,
# ADPCM, extensible) raise DecodeUnavailable like any codec we lack.


def encode_wav(samples: "object", sample_rate: int = 16000) -> bytes:
    """Encode an (n,) or (n, channels) int16 array as a PCM WAV."""
    import struct

    import numpy as np

    arr = np.asarray(samples, dtype=np.int16)
    if arr.ndim == 1:
        arr = arr[:, None]
    n, ch = arr.shape
    data = arr.astype("<i2").tobytes()
    byte_rate = sample_rate * ch * 2
    fmt = struct.pack("<HHIIHH", 1, ch, sample_rate, byte_rate, ch * 2, 16)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def parse_wav_chunks(payload: bytes) -> "tuple[tuple, bytes]":
    """Walk a RIFF/WAVE container and return (fmt_tuple, data_bytes)
    where fmt_tuple = (tag, channels, rate, byte_rate, block_align,
    bits). Shared by the PCM decoder here and the compressed-audio
    decoders in ``operators/audio.py``. Bounds-checked: corrupt chunk
    sizes / truncated payloads raise DecodeUnavailable, never
    struct errors."""
    import struct

    if payload is None or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise DecodeUnavailable("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        ctype = payload[pos : pos + 4]
        (clen,) = struct.unpack_from("<I", payload, pos + 4)
        if clen > len(payload) - pos - 8:
            raise DecodeUnavailable("corrupt WAV chunk length")
        if ctype == b"fmt ":
            if clen < 16:
                raise DecodeUnavailable("short WAV fmt chunk")
            fmt = struct.unpack_from("<HHIIHH", payload, pos + 8)
        elif ctype == b"data":
            data = payload[pos + 8 : pos + 8 + clen]
        pos += 8 + clen + (clen % 2)  # chunks are word-aligned
    if fmt is None or data is None:
        raise DecodeUnavailable("WAV missing fmt or data chunk")
    return fmt, data


def decode_wav(payload: bytes) -> "tuple[object, int]":
    """Decode a PCM 16-bit WAV into ((n, channels) int16 array,
    sample_rate). Bounds-checked: corrupt chunk sizes / truncated
    payloads raise DecodeUnavailable, never struct/numpy errors."""
    import numpy as np

    fmt, data = parse_wav_chunks(payload)
    tag, ch, rate, _br, _align, bits = fmt
    if tag != 1 or bits != 16 or ch < 1 or rate <= 0:
        raise DecodeUnavailable(
            f"unsupported WAV flavor (tag={tag}, bits={bits}, ch={ch})"
        )
    n = len(data) // (ch * 2)
    arr = np.frombuffer(data, dtype="<i2", count=n * ch).reshape(n, ch)
    return arr.copy(), rate


def resample_audio(samples: "object", src_rate: int, dst_rate: int) -> "object":
    """Nearest-neighbor resample along the time axis — the audio twin
    of resize_raster's sampling convention (source index floor(i·src/
    dst)); production would low-pass first, this is the deterministic
    plumbing form."""
    import numpy as np

    arr = np.asarray(samples)
    n = arr.shape[0]
    out_n = max(1, (n * dst_rate) // src_rate)
    idx = (np.arange(out_n) * src_rate) // dst_rate
    return arr[np.minimum(idx, n - 1)]


def audio_features_wav(media: DataFrame) -> DataFrame:
    """Distributed REAL audio feature pass over WAV payloads — the
    audio sibling of ``resize_media_bmp``: mapInPandas batches, the
    kernel decodes actual PCM samples and emits duration, channel
    count, RMS level and peak (the triage features an audio-curation
    gate filters on — silence/clipping detection). Non-WAV or corrupt
    payloads surface as ok=false rows (one skippable record each),
    never executor errors."""
    import numpy as np

    from node_js_etl_processor_spark.operators.media_harness import (
        media_features,
    )

    schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("ok", StringType(), False),
            StructField("sample_rate", LongType(), True),
            StructField("n_channels", LongType(), True),
            StructField("duration_ms", LongType(), True),
            StructField("rms", StringType(), True),
            StructField("peak", LongType(), True),
        ]
    )

    def extract(payload):
        arr, rate = decode_wav(payload)
        mono = arr.astype(np.float64).mean(axis=1)
        return [
            {
                "sample_rate": rate,
                "n_channels": arr.shape[1],
                "duration_ms": int(arr.shape[0] * 1000 / rate),
                "rms": f"{float(np.sqrt(np.mean(mono ** 2))):.4f}",
                "peak": int(np.abs(arr).max()) if arr.size else 0,
            }
        ]

    return media_features(media, schema, extract)


def synth_wav_media(documents: DataFrame) -> DataFrame:
    """Deterministic PCM-WAV payloads derived per document — the
    audio analogue of q_html_extract's build-then-extract trick: each
    doc_id fixes a square wave (amplitude 1000 + (doc_id%20)·500,
    period 2 + doc_id%7 samples, 800 + (doc_id%5)·160 samples, rate
    8000 or 16000 by doc_id%2, 1 + doc_id%2 channels with the second
    channel at half amplitude), encoded through the REAL ``encode_wav``
    in the Arrow kernel. Every doc_id % 11 == 0 row instead carries a
    corrupt non-WAV payload, putting decode-failure isolation under
    the same gate. Because a square wave's samples are all ±amplitude,
    its duration/RMS/peak are closed-form in doc_id — which is what
    lets a SQL oracle check the distributed encode→decode roundtrip."""
    import numpy as np

    from node_js_etl_processor_spark.operators.media_harness import (
        per_doc,
        synth_media,
    )

    def make_row(did: int):
        if did % 11 == 0:
            return "audio/wav", b"ID3\x04not-a-wav-payload"
        amp = 1000 + (did % 20) * 500
        period = 2 + did % 7
        n = 800 + (did % 5) * 160
        rate = 8000 if did % 2 == 0 else 16000
        i = np.arange(n)
        sign = np.where((i // period) % 2 == 0, 1, -1)
        ch0 = (sign * amp).astype(np.int16)
        if did % 2 == 1:
            arr = np.stack([ch0, (sign * (amp // 2)).astype(np.int16)], axis=1)
        else:
            arr = ch0
        return "audio/wav", encode_wav(arr, rate)

    return synth_media(documents, per_doc(make_row), "audio")


def synth_gif_media(documents: DataFrame) -> DataFrame:
    """Deterministic animated-GIF payloads derived per document —
    the GIF twin of ``synth_wav_media``: each doc_id fixes a small
    animation (width 4 + doc_id%5, height 3 + doc_id%4, 1 + doc_id%3
    frames, frame f solid color ((did*37 + f*11)%256, (did*53 +
    f*29)%256, (did*71 + f*13)%256), delay 2f centiseconds), encoded
    through the REAL ``operators.gif.encode_gif`` inside the Arrow
    kernel. Every doc_id % 11 == 0 row carries a corrupt GIF-magic
    payload instead, keeping decode-failure isolation under the same
    gate. Solid-color frames make every sampled frame's geometry,
    delay and raster digest closed-form in doc_id — the property that
    lets a SQL oracle check the distributed encode→decode→sample loop
    (md5 of a repeated 3-byte pattern)."""
    import numpy as np

    from node_js_etl_processor_spark.operators.gif import encode_gif
    from node_js_etl_processor_spark.operators.media_harness import (
        per_doc,
        synth_media,
    )

    def make_row(did: int):
        if did % 11 == 0:
            return "image/gif", b"GIF89a\x00\x00truncated"
        w, h = 4 + did % 5, 3 + did % 4
        frames = [
            np.full(
                (h, w, 3),
                (
                    (did * 37 + f * 11) % 256,
                    (did * 53 + f * 29) % 256,
                    (did * 71 + f * 13) % 256,
                ),
                dtype=np.uint8,
            )
            for f in range(1 + did % 3)
        ]
        return "image/gif", encode_gif(
            frames, delays=[2 * f for f in range(len(frames))]
        )

    return synth_media(documents, per_doc(make_row), "image")


def q_gif_frames(documents: DataFrame) -> DataFrame:
    """Declared query: the full distributed GIF loop —
    ``synth_gif_media`` (real LZW encode, closed-form animations) →
    ``sample_gif_frames`` (real decode + compositing, every 2nd
    frame) — with every output column closed-form in doc_id, so a SQL
    oracle replays geometry, delays, corrupt-row isolation AND the
    raster digests (md5 over repeat(color_hex, w·h)). Oracle parity
    is already pinned by pytest (test_extensions.py) ahead of
    declaration."""
    return sample_gif_frames(synth_gif_media(documents)).orderBy(
        "media_id", "frame_no"
    )


def q_audio_features(documents: DataFrame) -> DataFrame:
    """Declared query: the distributed WAV path under the oracle
    gate — synthesize deterministic PCM-WAV bytes per document
    (``synth_wav_media``), decode them back through the REAL
    ``decode_wav`` inside ``audio_features_wav``, and emit
    duration/RMS/peak plus the ok flag. The DuckDB oracle recomputes
    every feature closed-form from doc_id (square-wave arithmetic) and
    replays the corrupt-payload lane as ok='false' null rows — so the
    encode→decode roundtrip, channel deinterleave + mono fold, RMS
    and duration arithmetic, and per-row failure isolation are all
    differentially verified, like the image kernels.

    Scale: two chained mapInPandas passes, zero shuffles before the
    presentation sort — the canonical media-pass shape; on a real
    table the synth stage is the parquet payload column."""
    return audio_features_wav(synth_wav_media(documents)).orderBy("media_id")


# ---------------------------------------------- stdlib MJPEG-AVI video path
#
# The video analogue of the WAV and GIF paths: an AVI is a RIFF container
# (same public layout family as WAV) whose 'movi' list carries one
# baseline-JFIF payload per frame in MJPEG form, fully walkable with struct
# and fully decodable by reusing ``operators.jpeg.decode_jpeg`` per '00dc'
# chunk. Supported flavor: MJPEG video streams ('00dc'/'00db' chunks holding
# baseline JPEG); anything else — other codecs, truncated chunks, missing
# headers — raises DecodeUnavailable like every codec we lack.


def _riff_chunk(fourcc: bytes, data: bytes) -> bytes:
    import struct

    pad = b"\x00" if len(data) % 2 else b""  # RIFF chunks are even-aligned
    return fourcc + struct.pack("<I", len(data)) + data + pad


def _riff_list(list_type: bytes, data: bytes) -> bytes:
    return _riff_chunk(b"LIST", list_type + data)


def encode_avi_mjpeg(frames: "list", fps: int = 10) -> bytes:
    """Encode equally-sized H×W×3 uint8 rasters as an MJPEG AVI:
    RIFF('AVI ') → LIST hdrl (avih + LIST strl(strh 'vids'/'MJPG' +
    strf BITMAPINFOHEADER)) → LIST movi ('00dc' = one baseline JFIF
    per frame, via ``encode_jpeg_baseline``) → idx1 (keyframe index —
    every MJPEG frame is one). The writer exists for the same reason
    as encode_wav/encode_gif: synthesizing test media through the
    REAL container layout the decoder walks."""
    import struct

    import numpy as np

    from node_js_etl_processor_spark.operators.jpeg import encode_jpeg_baseline

    arrs = [np.asarray(f, dtype=np.uint8) for f in frames]
    if not arrs:
        raise ValueError("encode_avi_mjpeg: need at least one frame")
    if any(a.shape != arrs[0].shape or a.ndim != 3 for a in arrs):
        raise ValueError("encode_avi_mjpeg: frames must share one HxWx3 shape")
    if fps < 1:
        raise ValueError(f"encode_avi_mjpeg: fps must be >= 1, got {fps}")
    h, w, _ = arrs[0].shape
    jpegs = [encode_jpeg_baseline(a) for a in arrs]
    upf = 1_000_000 // fps
    maxbuf = max(len(j) for j in jpegs)
    avih = _riff_chunk(
        b"avih",
        struct.pack(
            "<14I", upf, maxbuf * fps, 0, 0x10, len(jpegs), 0, 1, maxbuf,
            w, h, 0, 0, 0, 0,
        ),
    )
    strh = _riff_chunk(
        b"strh",
        b"vids" + b"MJPG"
        + struct.pack(
            "<IHHIIIIIIII4H",
            0, 0, 0, 0,          # flags, priority, language, initial frames
            1, fps,              # scale / rate -> fps
            0, len(jpegs),       # start, length (frames)
            maxbuf, 0xFFFFFFFF,  # suggested buffer, quality (default)
            0,                   # sample size (0: variable)
            0, 0, w, h,          # rcFrame
        ),
    )
    strf = _riff_chunk(
        b"strf",
        struct.pack("<IiiHH", 40, w, h, 1, 24)
        + b"MJPG"
        + struct.pack("<IiiII", w * h * 3, 0, 0, 0, 0),
    )
    hdrl = _riff_list(b"hdrl", avih + _riff_list(b"strl", strh + strf))
    movi_body = b"".join(_riff_chunk(b"00dc", j) for j in jpegs)
    movi = _riff_list(b"movi", movi_body)
    # idx1 offsets point at each chunk's fourcc relative to 'movi'+4
    idx_entries, off = [], 4
    for j in jpegs:
        idx_entries.append(b"00dc" + struct.pack("<III", 0x10, off, len(j)))
        off += 8 + len(j) + (len(j) % 2)
    idx1 = _riff_chunk(b"idx1", b"".join(idx_entries))
    return _riff_chunk(b"RIFF", b"AVI " + hdrl + movi + idx1)


def decode_avi_frames(payload: bytes) -> "tuple[list, int]":
    """Walk an AVI RIFF container and decode every MJPEG video frame:
    returns ([H×W×3 uint8 rasters in stream order], usec_per_frame
    from the avih header). Bounds-checked end to end — a non-AVI
    payload, truncated chunk, missing avih, frameless movi or a
    corrupt embedded JPEG raises DecodeUnavailable, never a
    struct/slice error (the per-row isolation contract every decoder
    here honors)."""
    import struct

    from node_js_etl_processor_spark.operators.jpeg import decode_jpeg

    if (
        payload is None
        or len(payload) < 12
        or payload[:4] != b"RIFF"
        or payload[8:12] != b"AVI "
    ):
        raise DecodeUnavailable("not an AVI payload")
    try:
        def subchunks(start: int, end: int):
            pos = start
            while pos + 8 <= end:
                cc = payload[pos : pos + 4]
                (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
                body = pos + 8
                if body + size > end:
                    raise DecodeUnavailable("truncated AVI chunk")
                yield cc, body, size
                pos = body + size + (size % 2)

        (riff_size,) = struct.unpack("<I", payload[4:8])
        end = 8 + riff_size
        if end > len(payload):
            raise DecodeUnavailable("truncated AVI payload")
        upf = None
        frames: list = []
        for cc, body, size in subchunks(12, end):
            if cc != b"LIST":
                continue
            ltype = payload[body : body + 4]
            if ltype == b"hdrl":
                for c2, b2, s2 in subchunks(body + 4, body + size):
                    if c2 == b"avih":
                        if s2 < 4:
                            raise DecodeUnavailable("short avih header")
                        (upf,) = struct.unpack("<I", payload[b2 : b2 + 4])
            elif ltype == b"movi":
                for c2, b2, s2 in subchunks(body + 4, body + size):
                    if c2[2:4] in (b"dc", b"db"):
                        frames.append(decode_jpeg(payload[b2 : b2 + s2]))
        if upf is None:
            raise DecodeUnavailable("AVI without avih header")
        if not frames:
            raise DecodeUnavailable("AVI without video frames")
        return frames, int(upf)
    except DecodeUnavailable:
        raise
    except Exception as exc:  # struct/index errors on corrupt containers
        raise DecodeUnavailable(f"corrupt AVI: {exc}") from exc


def synth_video_media(documents: DataFrame) -> DataFrame:
    """Deterministic MJPEG-AVI media per document — the video twin of
    ``synth_gif_media``: each doc_id fixes a small clip (width
    6 + doc_id%7, height 5 + doc_id%5, 1 + doc_id%4 frames at
    4 + doc_id%4 fps, frame f solid GRAY (doc_id*37 + f*29) % 256),
    encoded through the REAL ``encode_avi_mjpeg`` (and so the real
    JPEG encoder) inside the Arrow kernel. Solid-gray frames roundtrip
    the quant=1 baseline-JFIF path EXACTLY (constant blocks: integer
    DC, zero AC, identity chroma — property-pinned), which is what
    keeps every sampled frame's raster digest closed-form in doc_id
    for the SQL oracle despite JPEG being lossy in general. Every
    doc_id % 13 == 0 row carries a corrupt RIFF payload instead."""
    import numpy as np

    from node_js_etl_processor_spark.operators.media_harness import (
        per_doc,
        synth_media,
    )

    def make_row(did: int):
        if did % 13 == 0:
            return "video/avi", b"RIFF\x08\x00\x00\x00AVI corrupt"
        w, h = 6 + did % 7, 5 + did % 5
        frames = [
            np.full((h, w, 3), (did * 37 + f * 29) % 256, dtype=np.uint8)
            for f in range(1 + did % 4)
        ]
        return "video/avi", encode_avi_mjpeg(frames, fps=4 + did % 4)

    return synth_media(documents, per_doc(make_row), "video")


def sample_video_frames(media: DataFrame, step: int = FRAME_STEP) -> DataFrame:
    """REAL video frame sampling — what
    ``sample_frames`` fakes with byte strides: walk each AVI
    payload (``decode_avi_frames``), keep every ``step``-th frame,
    emit its true geometry, the stream's frame duration and the
    raster digest (md5 over lowercase hex — the shared oracle-able
    digest convention). Same batch shape and per-row failure
    isolation as the WAV/GIF paths: a non-AVI or corrupt payload is
    one ok=false row, never an executor error; blobs are never
    exploded Spark-side."""
    import hashlib

    from node_js_etl_processor_spark.operators.media_harness import (
        media_features,
    )

    schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("ok", StringType(), False),
            StructField("frame_no", LongType(), True),
            StructField("n_frames", LongType(), True),
            StructField("width", LongType(), True),
            StructField("height", LongType(), True),
            StructField("usec_per_frame", LongType(), True),
            StructField("frame_md5", StringType(), True),
        ]
    )

    def extract(payload):
        frames, upf = decode_avi_frames(payload)
        return [
            {
                "frame_no": f,
                "n_frames": len(frames),
                "height": frames[f].shape[0],
                "width": frames[f].shape[1],
                "usec_per_frame": upf,
                "frame_md5": hashlib.md5(
                    frames[f].tobytes().hex().encode()
                ).hexdigest(),
            }
            for f in range(0, len(frames), step)
        ]

    return media_features(media, schema, extract)


def q_video_frames(documents: DataFrame) -> DataFrame:
    """Declared query: the full distributed
    video loop — ``synth_video_media`` (real JPEG encode into a real
    AVI container) → ``sample_video_frames`` (real RIFF walk + JPEG
    decode, every 2nd frame) — with every output column closed-form
    in doc_id (solid-gray frames make even the lossy-codec digests
    exact), so a SQL oracle replays geometry, frame durations,
    corrupt-row isolation AND the raster digests. Oracle parity is
    pinned by pytest ahead of declaration (tests/test_extensions.py)."""
    return sample_video_frames(synth_video_media(documents)).orderBy(
        "media_id", "frame_no"
    )
