"""Netpbm (PGM/PPM) codecs over the opaque-binary media model.

The fifth REAL image family next to BMP/PNG/JPEG/GIF (multimodal.py,
gif.py, jpeg.py): the netpbm formats are fully specified by their
man pages and need no compression machinery, but their HEADER GRAMMAR
is the real test — magic (P2/P3/P5/P6), then whitespace-separated
decimal tokens with ``#`` comments allowed anywhere between them,
then a SINGLE whitespace byte before binary raster data. A lazy
split()-based reader breaks on comments or on binary rasters whose
first byte is whitespace-valued; this decoder tokenizes the header
byte-by-byte exactly per spec.

Same failure contract as every media kernel: any malformed or
foreign payload raises ``DecodeUnavailable`` (one ok=false row in the
distributed pass, never an executor error). Same scale shape: two
chained mapInPandas passes, zero shuffles.
"""

from __future__ import annotations

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

_WS = b" \t\r\n"


def _header_tokens(payload: bytes, n_tokens: int) -> "tuple[list[int], int]":
    """Read ``n_tokens`` decimal header tokens starting after the
    magic, honoring ``#`` comments (to end of line) and arbitrary
    whitespace runs. Returns (tokens, offset_after_single_ws) — the
    spec demands EXACTLY ONE whitespace byte between the last header
    token and binary raster data."""
    toks: list[int] = []
    i = 2  # past the 2-byte magic
    n = len(payload)
    while len(toks) < n_tokens:
        while i < n and (payload[i : i + 1] in (b"#",) or payload[i] in _WS):
            if payload[i : i + 1] == b"#":
                while i < n and payload[i] not in b"\n":
                    i += 1
            else:
                i += 1
        j = i
        while j < n and payload[j] not in _WS and payload[j : j + 1] != b"#":
            j += 1
        if j == i:
            raise DecodeUnavailable("truncated netpbm header")
        tok = payload[i:j]
        if not tok.isdigit():  # spec: plain ASCII decimal — int()'s
            # leniency ('+', '-', '_' separators) must not leak in
            raise DecodeUnavailable("non-decimal netpbm header token")
        toks.append(int(tok))
        i = j
    if i >= n or payload[i] not in _WS:
        raise DecodeUnavailable("netpbm header not followed by whitespace")
    return toks, i + 1


def decode_netpbm(payload: bytes) -> "tuple[object, str, int]":
    """Decode P2/P3 (ASCII) or P5/P6 (binary) into ((h, w) uint8 for
    gray, (h, w, 3) uint8 for color), the magic string, and maxval.
    Only maxval ≤ 255 (1 byte/sample) is supported; anything else —
    including foreign formats — raises DecodeUnavailable."""
    import numpy as np

    if payload is None or len(payload) < 2 or payload[0:1] != b"P":
        raise DecodeUnavailable("not a netpbm payload")
    magic = payload[:2].decode("ascii", "replace")
    if magic not in ("P2", "P3", "P5", "P6"):
        raise DecodeUnavailable(f"unsupported netpbm magic {magic!r}")
    color = magic in ("P3", "P6")
    w_, h_, maxval = 0, 0, 0
    toks, off = _header_tokens(payload, 3)
    w_, h_, maxval = toks
    if w_ <= 0 or h_ <= 0 or not (0 < maxval <= 255):
        raise DecodeUnavailable(
            f"unsupported netpbm geometry/maxval ({w_}x{h_}, {maxval})"
        )
    nsamp = w_ * h_ * (3 if color else 1)
    if magic in ("P5", "P6"):
        data = payload[off : off + nsamp]
        if len(data) < nsamp:
            raise DecodeUnavailable("truncated netpbm raster")
        arr = np.frombuffer(data, dtype=np.uint8, count=nsamp)
    else:
        # ASCII rasters: whitespace-separated decimals, comments legal
        vals: list[int] = []
        i = off - 1  # off-1 is the single ws byte — safe restart point
        n = len(payload)
        while len(vals) < nsamp and i < n:
            if payload[i : i + 1] == b"#":
                while i < n and payload[i] not in b"\n":
                    i += 1
            elif payload[i] in _WS:
                i += 1
            else:
                j = i
                while j < n and payload[j] not in _WS and payload[j : j + 1] != b"#":
                    j += 1
                tok = payload[i:j]
                if not tok.isdigit():
                    raise DecodeUnavailable("non-decimal netpbm sample")
                vals.append(int(tok))
                i = j
        if len(vals) < nsamp:
            raise DecodeUnavailable("truncated netpbm ascii raster")
        if any(v < 0 or v > maxval for v in vals):
            raise DecodeUnavailable("netpbm sample exceeds maxval")
        arr = np.asarray(vals, dtype=np.uint8)
    if color:
        return arr.reshape(h_, w_, 3), magic, maxval
    return arr.reshape(h_, w_), magic, maxval


def encode_netpbm(pixels: "object", magic: str, comment: str | None = None) -> bytes:
    """Encode a (h, w) or (h, w, 3) uint8 array as P2/P3/P5/P6 with
    maxval 255; ``comment`` (if given) is embedded mid-header to keep
    the decoder's comment handling honest in roundtrips."""
    import numpy as np

    arr = np.asarray(pixels, dtype=np.uint8)
    color = magic in ("P3", "P6")
    if magic not in ("P2", "P3", "P5", "P6"):
        raise ValueError(f"bad netpbm magic {magic!r}")
    if color and (arr.ndim != 3 or arr.shape[2] != 3):
        raise ValueError("color netpbm needs (h, w, 3)")
    if not color and arr.ndim != 2:
        raise ValueError("gray netpbm needs (h, w)")
    h, w = arr.shape[:2]
    head = f"{magic}\n".encode()
    if comment:
        head += f"# {comment}\n".encode()
    head += f"{w} {h}\n255\n".encode()
    flat = arr.reshape(-1)
    if magic in ("P5", "P6"):
        return head + flat.tobytes()
    return head + " ".join(str(int(v)) for v in flat).encode() + b"\n"


NETPBM_FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("ok", StringType(), False),
        StructField("fmt", StringType(), True),
        StructField("width", LongType(), True),
        StructField("height", LongType(), True),
        StructField("maxval", LongType(), True),
        StructField("px_sum", LongType(), True),
        StructField("raster_md5", StringType(), True),
    ]
)


def synth_netpbm_media(documents: DataFrame) -> DataFrame:
    """Deterministic netpbm payloads per document: doc_id%4 selects
    the variant (P6 binary color, P3 ASCII color, P5 binary gray, P2
    ASCII gray), geometry w=3+doc_id%6 × h=2+doc_id%5, solid fill
    (r,g,b)=((id·37)%256,(id·53)%256,(id·71)%256) or gray (id·29)%256,
    encoded through the REAL ``encode_netpbm`` WITH an embedded
    header comment (so the oracle gate covers comment parsing, the
    part naive readers break on). Every doc_id%11==0 row carries a
    REAL BMP payload instead — foreign-format rejection under the
    gate."""
    import numpy as np

    from node_js_etl_processor_spark.operators.media_harness import (
        per_doc,
        synth_media,
    )
    from node_js_etl_processor_spark.operators.multimodal import encode_bmp

    def make_row(did: int):
        w, h = 3 + did % 6, 2 + did % 5
        if did % 11 == 0:
            return "image/bmp", encode_bmp(np.zeros((h, w, 3), dtype=np.uint8))
        magic = ("P6", "P3", "P5", "P2")[did % 4]
        mime = (
            "image/x-portable-pixmap" if magic in ("P3", "P6")
            else "image/x-portable-graymap"
        )
        if magic in ("P3", "P6"):
            px = np.full(
                (h, w, 3),
                ((did * 37) % 256, (did * 53) % 256, (did * 71) % 256),
                dtype=np.uint8,
            )
        else:
            px = np.full((h, w), (did * 29) % 256, dtype=np.uint8)
        return mime, encode_netpbm(px, magic, comment=f"doc {did}")

    return synth_media(documents, per_doc(make_row), "image")


def netpbm_features(media: DataFrame) -> DataFrame:
    """Distributed netpbm feature pass: decode through the REAL
    parser and emit format, geometry, exact pixel sum and the decoded
    raster digest (md5 of the HEX-ENCODED sample bytes — the same
    convention as the GIF/video families, so the oracle rebuilds it
    as md5(repeat(printf('%02x…'), n)))."""
    import hashlib

    import numpy as np

    from node_js_etl_processor_spark.operators.media_harness import (
        media_features,
    )

    def extract(payload):
        arr, magic, maxval = decode_netpbm(payload)
        return [
            {
                "fmt": magic,
                "height": int(arr.shape[0]),
                "width": int(arr.shape[1]),
                "maxval": maxval,
                "px_sum": int(arr.astype(np.int64).sum()),
                "raster_md5": hashlib.md5(
                    arr.reshape(-1).tobytes().hex().encode()
                ).hexdigest(),
            }
        ]

    return media_features(media, NETPBM_FEATURE_SCHEMA, extract)


def q_netpbm_features(documents: DataFrame) -> DataFrame:
    """Declared query: the full distributed netpbm loop —
    ``synth_netpbm_media`` (real encode of all four variants WITH
    header comments) → ``netpbm_features`` (real tokenizing decode +
    exact stats). The DuckDB oracle recomputes geometry, pixel sums
    and the raster digests closed-form from doc_id (solid fill → md5
    of a repeated byte pattern) and replays the BMP-rejection lane —
    so binary AND ascii paths, the comment grammar, and foreign-
    format rejection are all differentially verified."""
    return netpbm_features(synth_netpbm_media(documents)).orderBy("media_id")
