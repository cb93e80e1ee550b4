"""Perceptual-hash image near-dup (r13): difference hash (dHash) over
REAL decoded rasters, and the declared q_image_dedup family.

dHash (the standard perceptual-hash folklore construction, e.g.
Krawetz's published description): downscale to a 9×8 luminance grid
(nearest-neighbor — ``multimodal.resize_raster``'s documented
convention), then each of the 64 bits records whether brightness
rises between horizontal neighbors. The hash is invariant to global
brightness shifts and to any monotone per-pixel scaling — which is
exactly what makes it a NEAR-dup key: re-encoded, brightness-shifted
or contrast-scaled copies of an image collide, while structurally
different images do not.

This extends the dedup family (exact fp / minhash / simhash /
embedding / SemDeDup) to the image modality THROUGH the real
decoders: payloads are decoded (netpbm here; any raster decoder in
the engine feeds the same kernel), resized and hashed inside one
Arrow pass, and the near-dup grouping is a plain groupBy on the
64-bit key — at 100 TB the same shape as exact text dedup (16-byte
shuffle keys, never pixels).

Oracle form: the synth patterns are integer sawtooth rasters whose
decoded pixels — and therefore every dHash bit — are closed-form in
doc_id, so DuckDB recomputes the hash per document from the same
integer arithmetic (including the nearest-neighbor sampling indices)
and replays the grouping. Planted near-dup trios share a pattern but
differ in brightness and amplitude, pinning the invariance claim
under the oracle gate, not just in unit tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType
from pyspark.sql.window import Window

from node_js_etl_processor_spark.functions import barrier

#: synth geometry: 18×16 source rasters downscale 2× onto the 9×8
#: dHash grid, so the resize path is exercised, not bypassed
PHASH_W, PHASH_H = 18, 16

DHASH_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("ok", StringType(), False),
        StructField("dhash", StringType(), True),
    ]
)


def dhash_hex(pixels: "object") -> str:
    """64-bit dHash of a gray (H, W) or color (H, W, 3) raster as 16
    hex chars: mean-to-gray, nearest-neighbor resize to 9×8, bit
    (y, x) = grid[y, x+1] > grid[y, x], packed row-major MSB-first
    (np.packbits order — the byte layout the SQL oracle rebuilds)."""
    import numpy as np

    from node_js_etl_processor_spark.operators.multimodal import resize_raster

    arr = np.asarray(pixels)
    if arr.ndim == 3:
        arr = arr.astype(np.int64).sum(axis=2) // arr.shape[2]
    grid = resize_raster(arr.astype(np.int64), 9, 8)
    bits = (grid[:, 1:] > grid[:, :-1]).astype(np.uint8)
    return np.packbits(bits.reshape(-1)).tobytes().hex()


def synth_phash_media(documents: DataFrame) -> DataFrame:
    """Deterministic P5 grayscale rasters with PLANTED near-dup trios:
    docs sharing a pattern group g = doc_id // 3 draw the same integer
    sawtooth (px = c + amp where ((a·x + b·y) mod p)·2 < p, else c)
    with per-member brightness c = 10·(doc_id%3) and amplitude
    amp = 120 + 25·(doc_id%3) — dHash compares neighbors, so members
    collide by construction while distinct patterns (a = 1 + g%23,
    b = g%19, p = 3 + g%17 — 7429 combinations, so dup-group sizes
    stay bounded as the corpus grows and pair counts scale linearly)
    generally do not. Member doc_id%3 == 2
    additionally INVERTS the single source pixel (x=16, y=14) — that
    pixel is sampled only as the right operand of bit (7, 7), so the
    member's dHash sits at Hamming distance EXACTLY ≤ 1 from its
    trio: the planted near-miss the banded Hamming matcher
    (``q_image_neardup``) exists to find and plain equality grouping
    must NOT merge.

    MIXED FORMATS (r14, the r13 verdict's item 2): each trio member
    encodes its raster in a DIFFERENT lossless container —
    FORMATS[(g + member) % 5] over P5 netpbm, PNG rgb8, BMP bgr24,
    TIFF gray and GIF89a, rotating with the group — so the planted
    collisions are CROSS-FORMAT: the dedup loop must decode through
    the ``image_probe.decode_raster`` dispatch (not assume one
    container) to see that a netpbm image and its PNG re-encode are
    the same picture. Member doc_id%3 == 1 additionally ships its
    raster UPSCALED 2× (nearest-neighbor, 36×32) — the THUMBNAIL
    case: dHash resamples both resolutions onto the same 9×8 grid
    (grid index floor(i·src/9) lands on 4x,4y in the upscale, which
    is the 2x,2y source pixel — exactly the base member's sampling
    point), so resolution invariance is under the oracle with the
    SAME closed-form hash arithmetic. Color containers carry the gray
    value replicated across channels (mean-to-gray restores it
    exactly); the GIF lane's rasters have ≤2 distinct colors by
    construction (sawtooth c / c+amp), inside the encoder's palette
    bound. Every
    doc_id%11==0 row carries a WebP RIFF header instead — a
    recognized container with NO decoder (TIFF, the old foreign lane,
    decodes through the dispatch now), so rejection stays under the
    gate. Values stay ≤ 255, so the SQL oracle recomputes pixels with
    plain integer arithmetic (no wraparound cases) — the oracle is
    FORMAT-BLIND because every lane decodes losslessly back to the
    same closed-form raster."""
    import numpy as np

    from node_js_etl_processor_spark.operators.media_harness import (
        per_doc,
        synth_media,
    )
    from node_js_etl_processor_spark.operators.image_probe import WEBP_STUB
    from node_js_etl_processor_spark.operators.multimodal import (
        encode_bmp,
        encode_png,
    )
    from node_js_etl_processor_spark.operators.netpbm import encode_netpbm
    from node_js_etl_processor_spark.operators.tiff import encode_tiff

    def make_row(did: int):
        if did % 11 == 0:
            return "image/webp", WEBP_STUB
        g = did // 3
        a, b, p = 1 + g % 23, g % 19, 3 + g % 17
        c = 10 * (did % 3)
        amp = 120 + 25 * (did % 3)
        y, x = np.mgrid[0:PHASH_H, 0:PHASH_W]
        high = ((a * x + b * y) % p) * 2 < p
        if did % 3 == 2:
            high[14, 16] = ~high[14, 16]
        px = (c + np.where(high, amp, 0)).astype(np.uint8)
        if did % 3 == 1:
            # the thumbnail lane: 2x nearest upscale — dHash's 9x8
            # resample hits source (2x, 2y) either way, so this
            # member still collides with its trio (see docstring)
            px = np.repeat(np.repeat(px, 2, axis=0), 2, axis=1)
        rgb = np.stack([px, px, px], axis=2)
        fmt = (g + did % 3) % 5
        if fmt == 0:
            return "image/x-portable-graymap", encode_netpbm(px, "P5")
        if fmt == 1:
            return "image/png", encode_png(rgb)
        if fmt == 2:
            return "image/bmp", encode_bmp(rgb)
        if fmt == 3:
            return "image/tiff", encode_tiff(px, "II")
        from node_js_etl_processor_spark.operators.gif import encode_gif

        return "image/gif", encode_gif(rgb)

    return synth_media(documents, per_doc(make_row), "image")


def image_dhash(media: DataFrame) -> DataFrame:
    """Decode → resize → dHash in one Arrow pass, through the
    ``image_probe.decode_raster`` format dispatch (r14) — netpbm,
    BMP, PNG, JPEG, GIF and TIFF payloads all hash; unsupported
    containers and corrupt rows isolate as ok=false."""
    from node_js_etl_processor_spark.operators.image_probe import decode_raster
    from node_js_etl_processor_spark.operators.media_harness import (
        media_features,
    )

    def extract(payload):
        return [{"dhash": dhash_hex(decode_raster(payload))}]

    return media_features(media, DHASH_SCHEMA, extract)


def image_near_dup_groups(hashed: DataFrame) -> DataFrame:
    """Near-dup grouping over the 64-bit keys: per ok row, the hash
    group's size and min-media_id keeper (the text exact-dedup keeper
    rule, applied to a perceptual key). Rejected rows pass through as
    ok=false with NULL group columns. One 8-byte-key exchange."""
    ok = hashed.filter(F.col("ok") == "true")
    w = Window.partitionBy("dhash")
    grouped = ok.select(
        "media_id",
        "ok",
        "dhash",
        F.count("*").over(w).cast("bigint").alias("n_same"),
        F.min("media_id").over(w).cast("bigint").alias("keeper"),
    ).withColumn(
        "is_dup",
        F.when(F.col("media_id") != F.col("keeper"), "true").otherwise("false"),
    )
    rejected = hashed.filter(F.col("ok") != "true").select(
        "media_id",
        "ok",
        "dhash",
        F.lit(None).cast("bigint").alias("n_same"),
        F.lit(None).cast("bigint").alias("keeper"),
        F.lit(None).cast("string").alias("is_dup"),
    )
    return grouped.unionByName(rejected)


def _band_cols(prefix: str = "") -> "list":
    """The four 16-bit band integers of a dhash hex string — the
    simhash banding (4×16) applied to the perceptual key."""
    return [
        F.conv(F.substring(F.col(f"{prefix}dhash"), 1 + 4 * b, 4), 16, 10)
        .cast("bigint")
        .alias(f"{prefix}h{b}")
        for b in range(4)
    ]


def image_near_dup_pairs(
    hashed: DataFrame, max_hamming: int = 3, key_cap: "int | None" = None
) -> DataFrame:
    """Hamming-tolerant image near-dup pairs over the dHash keys —
    the simhash LSH argument on a perceptual hash: split each 64-bit
    key into 4×16-bit bands; any pair within Hamming ≤ 3 must agree
    on at least one whole band (pigeonhole), so the band equi-join is
    COMPLETE for the threshold and never compares all pairs. Collided
    candidates verify with the exact popcount over the band XORs.
    Emits (id_a < id_b, hamming) distinct verified pairs.

    Scale: the only exchanges are the (band, value)-keyed self-join —
    2-byte keys, never pixels — exactly the text-simhash shape.

    ``key_cap`` (r14, the r13 verdict's item 5 — the ``q_fuzzy_match``
    posting-cap discipline): opt-in; default None = exact. A REAL
    templated image corpus (logos, memes, watermarked stills) can put
    g images on ONE 16-bit band value and pay g² candidates at that
    key; with a cap, postings for any (band, value) shared by more
    than ``key_cap`` images are dropped BEFORE the self-join, so the
    candidate count is bounded by 4·key_cap per image. A pair dropped
    at one hot band is still found through any other ≤cap shared band,
    so recall degrades gracefully instead of the stage dying — but a
    group of identical hashes saturating ALL FOUR bands is deliberate
    exact-dup territory (route it through ``image_near_dup_groups``'s
    equality grouping first). Exactness requires the default; the
    declared oracle query runs exact."""
    ok = hashed.filter(F.col("ok") == "true").select(
        F.col("media_id"), *_band_cols()
    )
    bands = ok.select(
        "media_id",
        *[F.col(f"h{b}") for b in range(4)],
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).cast("int").alias("band"),
                        F.col(f"h{b}").alias("val"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("cell"),
    ).select("media_id", "h0", "h1", "h2", "h3", "cell.band", "cell.val")
    if key_cap is not None:
        hot = (
            bands.groupBy("band", "val")
            .agg(F.count("*").alias("n_postings"))
            .filter(F.col("n_postings") > key_cap)
            .select("band", "val")
        )
        # no broadcast hint: hot-key count is data-dependent (up to
        # 4n/key_cap rows) — AQE picks the strategy, as in q_fuzzy_match
        bands = bands.join(hot, ["band", "val"], "left_anti")
    a, b = bands.alias("a"), bands.alias("b")
    hamming = sum(
        F.bit_count(
            F.col(f"a.h{i}").bitwiseXOR(F.col(f"b.h{i}"))
        )
        for i in range(4)
    ).cast("bigint")
    cond = (
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.val") == F.col("b.val"))
        & (F.col("a.media_id") < F.col("b.media_id"))
    )
    if key_cap is None:
        # first-shared-band rule (r18): emit each candidate pair at its
        # FIRST shared band only — bands j < the joined band must
        # DIFFER — so every qualifying pair is generated exactly once.
        # This kills the post-verify distinct() exchange AND the 4x
        # duplicate candidates an exact-dup pair (all four bands equal)
        # otherwise pays. Exact-path only: under key_cap a pair's first
        # shared band may be a dropped hot key while a later shared
        # band survives, so the capped path keeps every-band candidates
        # + distinct to preserve its graceful-recall contract.
        for j in range(3):
            cond = cond & (
                (F.col("a.band") <= F.lit(j))
                | (F.col(f"a.h{j}") != F.col(f"b.h{j}"))
            )
    pairs = (
        a.join(b, cond)
        .select(
            F.col("a.media_id").alias("id_a"),
            F.col("b.media_id").alias("id_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )
    return pairs if key_cap is None else pairs.distinct()


def q_image_neardup(documents: DataFrame) -> DataFrame:
    """r13 declared query: Hamming-tolerant image near-dup — the loop
    ``synth_phash_media`` → ``image_dhash`` → ``image_near_dup_pairs``.
    The synth's trios plant BOTH cases: members 0/1 collide exactly
    (hamming 0) and member 2 sits at hamming ≤ 1 (one inverted source
    pixel that only bit (7,7) samples) — found by the banded matcher,
    invisible to plain equality grouping (q_image_dedup keeps them
    apart; this query joins them). The DuckDB oracle recomputes the
    hashes closed-form, splits the same 4×16 bands, replays the
    band join + popcount verify — completeness of the pigeonhole
    blocking is cross-checked, not assumed.

    Scale: one Arrow decode pass, then 2-byte-key band self-join —
    the text-simhash plan on perceptual keys."""
    # cut the decoded-hash frame once (media_id, ok, dhash — bytes per
    # image, never pixels). The band self-join references it on BOTH
    # sides, and without the cut the whole synth-encode + Arrow-decode
    # chain ran twice (8 MapInPandas nodes in the final plan); the
    # streaming ingest (streaming/dedup.py) already cuts at exactly
    # this point.
    hashed = barrier.cut(
        image_dhash(synth_phash_media(documents)), "phash.q_image_neardup"
    )
    return image_near_dup_pairs(hashed).orderBy("id_a", "id_b")


def q_image_dedup(documents: DataFrame) -> DataFrame:
    """r13 declared query: the full image near-dup loop —
    ``synth_phash_media`` (real P5 encode of closed-form sawtooth
    rasters with planted brightness/contrast-shifted trios) →
    ``image_dhash`` (real decode + resize + dHash) →
    ``image_near_dup_groups``. The DuckDB oracle recomputes every
    dHash bit from the pattern arithmetic (same nearest-neighbor
    indices, same row-major MSB-first packing) and replays the
    grouping, so decode, resize, hashing, packing, invariance AND the
    keeper rule are all cross-checked.

    Scale: one Arrow decode pass (zero shuffles) + one 8-byte-key
    window exchange — the exact-text-dedup shape on a perceptual key."""
    # the same single-decode cut as q_image_neardup — the ok/rejected
    # branches of image_near_dup_groups otherwise each re-run the
    # encode+decode chain (two full Python passes).
    hashed = barrier.cut(
        image_dhash(synth_phash_media(documents)), "phash.q_image_dedup"
    )
    return image_near_dup_groups(hashed).orderBy("media_id")
