"""Property-based checks (SURVEY.md §5.4, hypothesis).

The core one is differential: the engine's universities transform vs a
pure-Python model of the reference's JS semantics (reference
server.js:65-97) over adversarial generated rows — empty vs whitespace
vs null fields, null array elements, missing arrays. The alphabet is
restricted to ASCII space as the only whitespace because Spark ``trim``
strips only ' ' (a documented divergence from JS ``String.trim`` which
also strips \\t/\\n/unicode spaces — irrelevant for the upstream data,
where whitespace is spaces).
"""

from __future__ import annotations

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from node_js_etl_processor_spark.schemas import UNIVERSITIES_RAW_SCHEMA
from node_js_etl_processor_spark.universities import transform_universities

TXT = st.one_of(st.none(), st.text(alphabet=" abX", max_size=6))
ELEM = st.one_of(st.none(), st.text(alphabet=" dW.", max_size=5))
ARR = st.one_of(st.none(), st.lists(ELEM, max_size=3))
ROW = st.fixed_dictionaries(
    {
        "name": TXT,
        "country": TXT,
        "state-province": TXT,
        "alpha_two_code": TXT,
        "domains": ARR,
        "web_pages": ARR,
    }
)


def _js_truthy(x):
    return x is not None and x != ""


def _model(rows):
    """Pure-Python mirror of F1 → P1..P5 → F2 (reference server.js:65-97,
    with the engine's documented null-element divergence)."""
    out = []
    for u in rows:
        if not (
            _js_truthy(u["name"])
            and _js_truthy(u["country"])
            and isinstance(u["web_pages"], list)
            and len(u["web_pages"]) > 0
        ):
            continue  # F1
        clean = lambda x: x.strip(" ") if x is not None else None
        t_or_n = lambda x: clean(x) if _js_truthy(x) else None
        arr = lambda a: [clean(d) for d in a] if isinstance(a, list) else []
        d, w = arr(u["domains"]), arr(u["web_pages"])
        rec = (
            clean(u["name"]),
            clean(u["country"]),
            t_or_n(u["state-province"]),
            t_or_n(u["alpha_two_code"]),
            tuple(d),
            tuple(w),
            d[0] if d else None,
            w[0] if w else None,
        )
        if rec[0] == "" or rec[1] == "":
            continue  # F2
        out.append(rec)
    return sorted(out, key=repr)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(rows=st.lists(ROW, max_size=12))
def test_transform_matches_js_model(spark, rows):
    raw = spark.createDataFrame(
        [tuple(r[f.name] for f in UNIVERSITIES_RAW_SCHEMA.fields) for r in rows],
        UNIVERSITIES_RAW_SCHEMA,
    )
    got = sorted(
        (
            (
                r["name"],
                r["country"],
                r["state_province"],
                r["alpha_two_code"],
                tuple(r["domains"]),
                tuple(r["web_pages"]),
                r["primary_domain"],
                r["primary_website"],
            )
            for r in transform_universities(raw).collect()
        ),
        key=repr,
    )
    assert got == _model(rows)


#: JSON floats with the text Node's ``String()`` prints for them.
FLOAT_TEXT = {0.0: "0", 0.5: "0.5", 1.0: "1", -2.5: "-2.5", 1e21: "1e+21", 1e-7: "1e-7"}
SCALAR = st.one_of(
    st.none(),
    st.text(alphabet=" abX\ud800", max_size=4),  # a lone surrogate is valid JSON
    st.booleans(),
    st.integers(-2, 2),
    st.sampled_from(sorted(FLOAT_TEXT)),
)
MESSY = st.one_of(SCALAR, st.just({"k": 1}), st.lists(st.integers(0, 2), max_size=2))
MESSY_ROW = st.fixed_dictionaries(
    {
        "name": MESSY,
        "country": MESSY,
        "state-province": MESSY,
        "alpha_two_code": MESSY,
        "domains": st.one_of(MESSY, st.lists(MESSY, max_size=3)),
        "web_pages": st.one_of(MESSY, st.lists(MESSY, max_size=3)),
    }
)


def _js_string(x):
    """Node's ``String(x)`` on a JSON value as Node writes it to a UTF-8
    file (a lone surrogate becomes U+FFFD), with the engine's documented
    divergences: null, objects and arrays map to null."""
    if x is None or isinstance(x, (dict, list)):
        return None
    if isinstance(x, bool):
        return "true" if x else "false"
    if isinstance(x, float):
        return FLOAT_TEXT[x]
    return str(x).replace("\ud800", "\ufffd")


def _js_model_messy(rows):
    """The JS reference over raw feed values: ``x ? String(x) : null`` for
    string fields (F1 and P3 test truthiness first), per-element
    ``String(d)`` for arrays and non-arrays left for F1/P4 to reject."""

    def field(x):
        return _js_string(x) if x not in (None, False, 0, "") else None

    def arr(a):
        return [_js_string(d) for d in a] if isinstance(a, list) else None

    return _model(
        [
            {
                **{k: field(r[k]) for k in ("name", "country", "state-province", "alpha_two_code")},
                "domains": arr(r["domains"]),
                "web_pages": arr(r["web_pages"]),
            }
            for r in rows
        ]
    )


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(rows=st.lists(MESSY_ROW, max_size=10))
@example(
    rows=[
        {"name": "S", "country": "C", "state-province": None, "alpha_two_code": None,
         "domains": "d.edu", "web_pages": ["w"]},
        {"name": "T", "country": "C", "state-province": None, "alpha_two_code": None,
         "domains": ["d"], "web_pages": "https://w.edu"},
        {"name": 1, "country": True, "state-province": {"k": 1}, "alpha_two_code": 0.5,
         "domains": [1e21, False, [0]], "web_pages": [0, None]},
        {"name": "\ud800b", "country": "X", "state-province": "\ud800", "alpha_two_code": None,
         "domains": ["a\ud800"], "web_pages": ["\ud800"]},
    ]
)
def test_refresh_over_malformed_feed_matches_js_model(spark, rows):
    """A refresh over feeds with non-array arrays, numbers, bools,
    objects and arrays in any field succeeds, and the staged JSON equals
    the JS model of the reference."""
    import json
    import tempfile

    from node_js_etl_processor_spark.plans.pipeline import UniversitiesPipeline

    with tempfile.TemporaryDirectory() as tmp:
        p = UniversitiesPipeline(
            spark, json_path=f"{tmp}/u.json", csv_path=f"{tmp}/u.csv",
            countries=("X",), fetcher=lambda country: rows,
        )
        res = p.run()
        assert res.success, res.error
        with open(p.json_path, encoding="utf-8") as f:
            staged = json.load(f)
    got = sorted(
        (
            (
                r["name"],
                r["country"],
                r["state_province"],
                r["alpha_two_code"],
                tuple(r["domains"]),
                tuple(r["web_pages"]),
                r["primary_domain"],
                r["primary_website"],
            )
            for r in staged
        ),
        key=repr,
    )
    assert got == _js_model_messy(rows)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    base=st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 100), st.integers(0, 3)),
        max_size=8,
    ),
    ups=st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 100), st.integers(0, 3)),
        max_size=8,
    ),
)
def test_upsert_idempotent_and_key_unique(spark, base, ups):
    """upsert(upsert(s,u),u) == upsert(s,u); result has unique keys."""
    from node_js_etl_processor_spark.operators.merge import upsert_snapshot

    schema = "k long, val long, ver long"
    # make each side internally key-unique (snapshots are), latest ver wins
    dedup = lambda rows: list({r[0]: r for r in sorted(rows, key=lambda t: t[2])}.values())
    cur = spark.createDataFrame(dedup(base) or [(99, 0, 0)], schema)
    upd = spark.createDataFrame(dedup(ups) or [(98, 0, 0)], schema)

    once = upsert_snapshot(cur, upd, ["k"], "ver")
    twice = upsert_snapshot(once, upd, ["k"], "ver")
    a = sorted(map(tuple, once.collect()))
    b = sorted(map(tuple, twice.collect()))
    assert a == b
    keys = [t[0] for t in a]
    assert len(keys) == len(set(keys))


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    offsets=st.lists(
        st.tuples(
            st.integers(0, 3),        # user_id
            st.integers(0, 10_000),   # seconds offset
            st.booleans(),            # is_purchase
        ),
        max_size=25,
    )
)
def test_asof_join_matches_duckdb_on_random_streams(spark, offsets):
    """Differential property: the union+window as-of join must agree
    with DuckDB's native ASOF LEFT JOIN on arbitrary generated event
    streams (including same-timestamp ties and users with clicks only
    / purchases only)."""
    import datetime as dt

    import duckdb
    import pandas as pd

    from node_js_etl_processor_spark.operators.temporal import q_asof_join

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (
            i,
            t0 + dt.timedelta(seconds=sec),
            user,
            "purchase" if is_p else "click",
            1.0,
            "{}",
        )
        for i, (user, sec, is_p) in enumerate(offsets)
    ]
    if not rows:
        return  # empty frame: pandas types degrade to NULL in DuckDB
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    events = spark.createDataFrame(rows, schema)
    got = sorted(
        (r["event_id"], r["user_id"], r["purchase_us"], r["click_us"], r["gap_us"])
        for r in q_asof_join(events).collect()
    )

    con = duckdb.connect()
    con.register(
        "events",
        pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
        ),
    )
    want = sorted(
        tuple(r)
        for r in con.execute(
            """
            SELECT p.event_id, p.user_id,
                   epoch_us(p.ts) AS purchase_us,
                   epoch_us(c.ts) AS click_us,
                   epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
            FROM (SELECT event_id, user_id, ts FROM events
                  WHERE event_type = 'purchase') p
            ASOF LEFT JOIN (SELECT user_id, ts FROM events
                            WHERE event_type = 'click') c
              ON p.user_id = c.user_id AND p.ts >= c.ts
            """
        ).fetchall()
    )
    con.close()
    assert got == want


# --------------------------------------------- chunk / pack invariants

WORD = st.text(alphabet="abc", min_size=1, max_size=3)
DOC = st.lists(WORD, min_size=0, max_size=40)


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(docs=st.lists(DOC, min_size=1, max_size=8))
def test_chunking_covers_every_token_and_respects_bounds(spark, docs):
    """Chunk invariants for arbitrary corpora: (a) every chunk has
    1..chunk_size tokens (token-less docs yield exactly one empty
    chunk), (b) concatenating each doc's stride-aligned chunk prefixes
    reconstructs the document exactly — i.e. every token is covered,
    in order, with the declared overlap."""
    from node_js_etl_processor_spark.operators.text import chunk_documents

    rows = [(i, " ".join(d)) for i, d in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = chunk_documents(df, chunk_size=8, overlap=2).collect()

    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == set(range(len(docs)))
    for i, d in enumerate(docs):
        chunks = sorted(by_doc[i], key=lambda r: r["chunk_id"])
        if not d:
            assert len(chunks) == 1 and chunks[0]["n_tokens"] == 0
            continue
        # stride-aligned prefix (first stride tokens of every chunk but
        # the last, full last chunk) reconstructs the document
        stride = 8 - 2
        rebuilt: list[str] = []
        for c in chunks[:-1]:
            rebuilt.extend(c["chunk_text"].split(" ")[:stride])
        rebuilt.extend(chunks[-1]["chunk_text"].split(" ") if chunks[-1]["n_tokens"] else [])
        assert rebuilt == d, f"doc {i}: {rebuilt} != {d}"
        assert all(1 <= c["n_tokens"] <= 8 for c in chunks)


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(docs=st.lists(st.lists(WORD, min_size=1, max_size=30), min_size=1, max_size=10))
def test_packing_preserves_tokens_and_cuts_on_budget(spark, docs):
    """Packing invariants: token totals are preserved, bin ids are a
    contiguous 0..max range per shard, and every bin's tokens-before
    start lies in [bin_id*budget, (bin_id+1)*budget) — the stream-cut
    rule (a chunk goes to the bin its RUNNING total falls in, so a bin
    may overflow its budget by at most one chunk, never leave a gap)."""
    from node_js_etl_processor_spark.operators.text import (
        chunk_documents,
        pack_chunks,
    )

    rows = [(i, " ".join(d)) for i, d in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    chunks = chunk_documents(df, chunk_size=8, overlap=2)
    packed = pack_chunks(chunks, budget=10, n_shards=4).collect()

    assert sum(r["n_tokens"] for r in packed) == sum(
        r["n_tokens"] for r in chunks.collect()
    )
    by_shard: dict[int, list] = {}
    for r in packed:
        by_shard.setdefault(r["shard"], []).append(r)
    for shard, rs in by_shard.items():
        rs = sorted(rs, key=lambda r: (r["doc_id"], r["chunk_id"]))
        bins = [r["bin_id"] for r in rs]
        assert bins == sorted(bins), "bin ids must be nondecreasing in pack order"
        assert set(bins) == set(range(max(bins) + 1)), "bin ids contiguous from 0"
        running = 0
        for r in rs:
            assert r["bin_id"] == running // 10
            running += r["n_tokens"]


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    h=st.integers(1, 24),
    w=st.integers(1, 24),
    seed=st.integers(0, 2**31 - 1),
    subsample=st.booleans(),
    restart=st.sampled_from([0, 2, 5]),
)
@example(h=16, w=13, seed=21, subsample=False, restart=0)
def test_jpeg_roundtrip_property(h, w, seed, subsample, restart):
    """Property: for ANY raster geometry,
    seed, sampling mode and restart interval, encode→decode is
    shape-preserving and faithful at quant=1 — 4:4:4 within ±3 per
    RGB channel; 4:2:0 within ±3 on the reconstructed LUMA (chroma
    is subsampled by design, but Y survives the 2×2 mean roundtrip).

    Why ±3, not ±2 (a counterexample to ±2 sits
    at h=16, w=13, seed=21, 4:4:4 — max abs error 3 on 1 of 624
    samples; pinned below as a permanent @example): the roundtrip's
    error chain at quant=1 is
      encode: float YCbCr → DCT → round()           (|Δcoef| ≤ 0.5)
      decode: IDCT (floats kept) → RGB → one round() (±0.5)
    The per-plane spatial error e_c is the IDCT back-projection of
    the coefficient rounding errors; the 2-D DCT-II basis is
    orthonormal, so e_c has RMS ≤ 0.5 but its pointwise max is
    content-dependent (adversarial worst case Σ|basis|·0.5 ≈ 5 per
    plane, not reachable from uint8 rasters in practice — measured
    |e_c| ≲ 1.2 over random rasters). The RGB reconstruction then
    amplifies chroma error (R = Y + 1.402·(Cr−128), B gain 1.772),
    so |ΔR| ≤ |e_Y| + 1.402·|e_Cr| + 0.5 ≈ 3.2 at the measured
    plane envelope. Measured max over 200 seeds at the falsifying
    geometry: {1: 7, 2: 192, 3: 1} — the pinned ≤3 is the measured
    envelope of this double-rounding chain, with the one known
    boundary case locked in as a regression example."""
    import numpy as np

    from node_js_etl_processor_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg_baseline,
    )

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    enc = encode_jpeg_baseline(
        img, quant=1, subsample=subsample, restart_interval=restart
    )
    dec = decode_jpeg(enc)
    assert dec.shape == img.shape and dec.dtype == np.uint8
    if not subsample:
        assert np.abs(dec.astype(int) - img.astype(int)).max() <= 3
    else:
        y_in = 0.299 * img[:, :, 0] + 0.587 * img[:, :, 1] + 0.114 * img[:, :, 2]
        y_out = 0.299 * dec[:, :, 0] + 0.587 * dec[:, :, 1] + 0.114 * dec[:, :, 2]
        # clipping at 0/255 couples chroma error back into Y; bound
        # the interior and the clip-affected cells separately
        clipped = (dec == 0) | (dec == 255)
        free = ~clipped.any(axis=2)
        if free.any():
            assert np.abs(y_in - y_out)[free].max() <= 3.0


@settings(max_examples=40, deadline=None)
@given(
    n=st.integers(1, 4000),
    rate=st.sampled_from([8000, 16000, 44100]),
    stereo=st.booleans(),
    seed=st.integers(0, 2**31 - 1),
)
def test_wav_roundtrip_property(n, rate, stereo, seed):
    """Property: PCM-WAV encode→decode is BIT-exact for any
    length, rate and channel layout (int16 range inclusive of
    extremes)."""
    import numpy as np

    from node_js_etl_processor_spark.operators.multimodal import (
        decode_wav,
        encode_wav,
    )

    rng = np.random.default_rng(seed)
    arr = rng.integers(-32768, 32768, size=(n, 2) if stereo else (n,), dtype=np.int16)
    dec, got_rate = decode_wav(encode_wav(arr, rate))
    assert got_rate == rate
    want = arr[:, None] if arr.ndim == 1 else arr
    assert np.array_equal(dec, want)


@settings(max_examples=60, deadline=None)
@given(
    h=st.integers(1, 20),
    w=st.integers(1, 20),
    ncolors=st.integers(1, 256),
    nframes=st.integers(1, 4),
    interlace=st.booleans(),
    seed=st.integers(0, 2**31 - 1),
)
def test_gif_roundtrip_property(h, w, ncolors, nframes, interlace, seed):
    """Property: for ANY geometry, palette size, frame count and
    interlace mode, GIF encode→decode is BIT-exact (lossless format)
    with delays preserved — exercising every LZW code-width
    transition the palette size induces."""
    import numpy as np

    from node_js_etl_processor_spark.operators.gif import (
        decode_gif_frames,
        encode_gif,
    )

    rng = np.random.default_rng(seed)
    pal = rng.integers(0, 256, size=(ncolors, 3), dtype=np.uint8)
    frames = [
        pal[rng.integers(0, ncolors, size=(h, w))] for _ in range(nframes)
    ]
    delays = [int(d) for d in rng.integers(0, 500, size=nframes)]
    got, got_delays = decode_gif_frames(
        encode_gif(frames, delays=delays, interlace=interlace)
    )
    assert got_delays == delays
    assert len(got) == nframes
    for a, b in zip(frames, got):
        assert np.array_equal(a, b)


@settings(max_examples=80, deadline=None)
@given(
    data=st.lists(st.integers(0, 7), min_size=1, max_size=400),
    mcs=st.sampled_from([3, 5, 8]),
)
def test_gif_lzw_roundtrip_property(data, mcs):
    """Property: the LZW coder pair is exact for any index
    stream, including highly repetitive ones (dictionary growth +
    width bumps at every boundary the stream reaches)."""
    from node_js_etl_processor_spark.operators.gif import (
        _lzw_decode,
        _lzw_encode,
    )

    raw = bytes(data)
    assert _lzw_decode(mcs, _lzw_encode(mcs, raw), len(raw)) == raw


@settings(max_examples=40, deadline=None)
@given(
    words=st.lists(
        st.text(alphabet="abcx", min_size=1, max_size=8), min_size=1, max_size=12
    ),
    a=st.sampled_from(["a", "b", "c", "x"]),
    b=st.sampled_from(["a", "b", "c", "x", "</w>"]),
)
def test_bpe_fold_matches_reference_merge(spark, words, a, b):
    """Property: the JVM aggregate fold applying one BPE merge
    equals the reference algorithm's greedy leftmost non-overlapping
    replace for ANY word set and pair — including pairs ending in the
    EOW marker and self-pairs (the overlap case)."""
    from node_js_etl_processor_spark.operators.bpe import (
        bpe_apply_merge,
        bpe_init_vocab,
    )

    uniq = sorted(set(words))
    vocab = bpe_init_vocab(
        spark.createDataFrame([(w, 1) for w in uniq], "word string, freq long")
    )
    got = {
        r["word"]: tuple(r["symbols"])
        for r in bpe_apply_merge(vocab, a, b).collect()
    }

    def ref(word):
        syms = list(word) + ["</w>"]
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        return tuple(out)

    assert got == {w: ref(w) for w in uniq}


@settings(max_examples=60, deadline=None)
@given(
    data=st.lists(st.integers(min_value=-32768, max_value=32767),
                  min_size=1, max_size=300),
)
def test_g711_matches_audioop_property(data):
    """Differential property: both G.711 laws,
    both directions, equal CPython's audioop (the Sun reference) on
    ARBITRARY int16 sequences — hypothesis hunts the segment/mask
    boundaries the fixed-seed test might miss (clip values, ±0,
    -32768, mantissa edges)."""
    import numpy as np
    import pytest as _pytest

    audioop = _pytest.importorskip("audioop")
    from node_js_etl_processor_spark.operators.audio import (
        alaw_decode,
        alaw_encode,
        mulaw_decode,
        mulaw_encode,
    )

    x = np.asarray(data, dtype=np.int16)
    raw = x.astype("<i2").tobytes()
    assert (mulaw_encode(x) == np.frombuffer(
        audioop.lin2ulaw(raw, 2), dtype=np.uint8)).all()
    assert (alaw_encode(x) == np.frombuffer(
        audioop.lin2alaw(raw, 2), dtype=np.uint8)).all()
    ucodes = mulaw_encode(x)
    assert (mulaw_decode(ucodes) == np.frombuffer(
        audioop.ulaw2lin(ucodes.tobytes(), 2), dtype="<i2")).all()
    acodes = alaw_encode(x)
    assert (alaw_decode(acodes) == np.frombuffer(
        audioop.alaw2lin(acodes.tobytes(), 2), dtype="<i2")).all()


@settings(max_examples=40, deadline=None)
@given(
    data=st.lists(st.integers(min_value=-32768, max_value=32767),
                  min_size=1, max_size=1200),
    rate=st.sampled_from([8000, 16000, 44100]),
)
def test_adpcm_wav_roundtrip_property(data, rate):
    """Property: for ANY int16 signal, the
    tag-0x11 WAV roundtrip decodes to exactly the per-block
    state-machine replay (predictor = first sample, index reset,
    fact-chunk truncation) — lengths straddle the 505-sample block
    boundary by construction of the size range."""
    import numpy as np

    from node_js_etl_processor_spark.operators.audio import (
        adpcm_decode_stream,
        adpcm_encode_stream,
        decode_wav_adpcm,
        encode_wav_adpcm,
    )

    sig = np.asarray(data, dtype=np.int16)
    out, got_rate = decode_wav_adpcm(encode_wav_adpcm(sig, rate))
    assert got_rate == rate and len(out) == len(sig)
    exp = []
    for b0 in range(0, len(sig), 505):
        chunk = sig[b0 : b0 + 505]
        exp.append(int(chunk[0]))
        codes, _ = adpcm_encode_stream(chunk[1:], int(chunk[0]), 0)
        dec, _ = adpcm_decode_stream(codes, int(chunk[0]), 0)
        exp.extend(dec)
    assert (out == np.asarray(exp, np.int16)).all()


@settings(max_examples=60, deadline=None)
@given(
    vals=st.lists(st.integers(min_value=1, max_value=(1 << 27)),
                  min_size=1, max_size=200),
)
def test_hdr_bucket_bounds_property(vals):
    """Property: the log-linear bucket index is
    monotone non-decreasing in the value, decodes to a lower bound
    lb ≤ v, and the bucket's relative width is ≤ 1/32 for v ≥ 64 —
    the guarantees q_hdr_quantiles' estimates inherit."""

    def idx_of(v):
        if v < 64:
            return v
        e = v.bit_length() - 1 - 5
        return (e << 6) + (v >> e)

    def lb_of(i):
        if i < 64:
            return i
        return (i & 63) << (i >> 6)

    svals = sorted(vals)
    idxs = [idx_of(v) for v in svals]
    assert idxs == sorted(idxs)
    for v in vals:
        i = idx_of(v)
        lb = lb_of(i)
        assert lb <= v
        if v >= 64:
            e = i >> 6
            width = 1 << e
            assert v < lb + width  # v inside its bucket
            assert width * 32 <= lb  # relative width ≤ 1/32
        else:
            assert lb == v  # exact buckets below 2^6


_CODEC_ENTRY_POINTS = None


def _codec_entry_points():
    """Every binary-decode entry point the media kernels call, each of
    which must be a TOTAL function over bytes: return a decode or
    raise DecodeUnavailable — any other exception would kill a whole
    executor task instead of yielding one ok=false row."""
    global _CODEC_ENTRY_POINTS
    if _CODEC_ENTRY_POINTS is None:
        from node_js_etl_processor_spark.operators.audio import (
            decode_au,
            decode_wav_adpcm,
            decode_wav_g711,
            probe_audio,
        )
        from node_js_etl_processor_spark.operators.flac import (
            decode_flac,
            parse_flac_streaminfo,
        )
        from node_js_etl_processor_spark.operators.gif import decode_gif
        from node_js_etl_processor_spark.operators.multimodal import (
            decode_avi_frames,
            decode_bmp,
            decode_png,
            decode_wav,
        )
        from node_js_etl_processor_spark.operators.image_probe import (
            decode_raster,
            probe_image,
        )
        from node_js_etl_processor_spark.operators.netpbm import decode_netpbm
        from node_js_etl_processor_spark.operators.tiff import decode_tiff

        _CODEC_ENTRY_POINTS = {
            "image_probe": probe_image,
            "raster_dispatch": decode_raster,
            "wav": decode_wav,
            "g711": decode_wav_g711,
            "adpcm": decode_wav_adpcm,
            "au": decode_au,
            "probe": probe_audio,
            "bmp": decode_bmp,
            "png": decode_png,
            "gif": decode_gif,
            "avi": decode_avi_frames,
            "netpbm": decode_netpbm,
            "tiff": decode_tiff,
            "flac": decode_flac,
            "flac_probe": parse_flac_streaminfo,
        }
    return _CODEC_ENTRY_POINTS


_MAGIC_PREFIXES = [
    b"", b"RIFF", b"RIFF\x10\x00\x00\x00WAVE", b".snd", b"II\x2a\x00",
    b"MM\x00\x2a", b"P5\n", b"P6 ", b"BM", b"\x89PNG\r\n\x1a\n",
    b"GIF89a", b"fLaC",
    # the image-dispatch corners: bare SOI, SOI+APP0, SOI+SOF0,
    # and a RIFF container that claims WebP
    b"\xff\xd8", b"\xff\xd8\xff\xe0", b"\xff\xd8\xff\xc0",
    b"RIFF\x24\x00\x00\x00WEBP",
]


@settings(max_examples=120, deadline=None)
@given(
    prefix=st.sampled_from(_MAGIC_PREFIXES),
    body=st.binary(max_size=64),
)
def test_codec_decoders_are_total_on_arbitrary_bytes(prefix, body):
    """Fuzz every decoder with magic-prefixed random bytes (the
    adversarial corner: headers that LOOK right long enough to reach
    the struct-unpack paths). The only acceptable outcomes are a
    successful decode or DecodeUnavailable."""
    from node_js_etl_processor_spark.operators.multimodal import (
        DecodeUnavailable,
    )

    payload = prefix + body
    for name, dec in _codec_entry_points().items():
        try:
            dec(payload)
        except DecodeUnavailable:
            pass
        except Exception as e:  # noqa: BLE001 — the assertion IS the catch
            raise AssertionError(
                f"{name} leaked {type(e).__name__} on {payload[:24]!r}..."
            ) from e


@settings(max_examples=60, deadline=None)
@given(
    kind=st.sampled_from(["g711", "adpcm", "au", "netpbm", "tiff", "flac"]),
    n_flips=st.integers(min_value=1, max_value=6),
    seed=st.integers(min_value=0, max_value=10_000),
)
def test_codec_decoders_survive_bit_flips_of_valid_payloads(kind, n_flips, seed):
    """Mutation fuzz: corrupt VALID payloads (random byte overwrites,
    including length-truncating header fields) — decoders must still
    decode or refuse cleanly. This is the exact failure class both
    self-review passes found by hand (struct.error on truncated
    headers, IndexError on count=0 IFD entries); here hypothesis
    hunts it mechanically."""
    import numpy as np

    from node_js_etl_processor_spark.operators.audio import (
        encode_au,
        encode_wav_adpcm,
        encode_wav_g711,
    )
    from node_js_etl_processor_spark.operators.multimodal import (
        DecodeUnavailable,
    )
    from node_js_etl_processor_spark.operators.netpbm import encode_netpbm
    from node_js_etl_processor_spark.operators.tiff import encode_tiff

    rng = np.random.RandomState(seed)
    sig = (rng.randint(-9000, 9000, 120)).astype(np.int16)
    px = rng.randint(0, 256, (4, 5, 3)).astype(np.uint8)
    base = {
        "g711": lambda: encode_wav_g711(sig, 8000, "mulaw"),
        "adpcm": lambda: encode_wav_adpcm(sig, 8000),
        "au": lambda: encode_au(sig, 8000, 1),
        "netpbm": lambda: encode_netpbm(px, "P6"),
        "tiff": lambda: encode_tiff(px, "MM", rows_per_strip=2),
        "flac": lambda: __import__(
            "node_js_etl_processor_spark.operators.flac", fromlist=["encode_flac"]
        ).encode_flac(sig, 8000),
    }[kind]()
    buf = bytearray(base)
    for _ in range(n_flips):
        buf[rng.randint(0, len(buf))] = rng.randint(0, 256)
    payload = bytes(buf[: rng.randint(8, len(buf) + 1)])  # + truncation
    dec = _codec_entry_points()[
        {"g711": "g711", "adpcm": "adpcm", "au": "au",
         "netpbm": "netpbm", "tiff": "tiff", "flac": "flac"}[kind]
    ]
    try:
        dec(payload)
    except DecodeUnavailable:
        pass


def test_image_probe_total_under_corruption_sweep():
    """Deterministic every-byte corruption sweep over one REAL
    payload of each of the nine probeable container/flavor pairs
    (plus truncations) — probe_image and decode_raster must decode or
    raise DecodeUnavailable, never leak struct/index/value errors or
    hang. An adversarial fuzz ran 12.9k mutated/truncated/
    junk payloads with zero violations; this pins the sweep in CI at
    a bounded size."""
    import numpy as np

    from node_js_etl_processor_spark.operators.gif import encode_gif
    from node_js_etl_processor_spark.operators.image_probe import (
        decode_raster,
        probe_image,
    )
    from node_js_etl_processor_spark.operators.jpeg import (
        encode_jpeg_baseline,
    )
    from node_js_etl_processor_spark.operators.multimodal import (
        DecodeUnavailable,
        encode_bmp,
        encode_png,
    )
    from node_js_etl_processor_spark.operators.netpbm import encode_netpbm
    from node_js_etl_processor_spark.operators.tiff import encode_tiff

    gray = np.arange(35, dtype=np.uint8).reshape(5, 7)
    rgb = np.stack([gray] * 3, axis=2)
    two = np.where(rgb >= 16, 200, 40).astype(np.uint8)
    bases = [
        encode_netpbm(gray, "P5"),
        encode_netpbm(rgb, "P6"),
        encode_netpbm(gray, "P2"),
        encode_bmp(rgb),
        encode_png(rgb),
        encode_gif(two),
        encode_tiff(gray, "II"),
        encode_tiff(rgb, "MM"),
        encode_jpeg_baseline(rgb),
    ]
    for base in bases:
        idxs = range(min(len(base), 120))
        for i in idxs:
            for v in (0x00, 0xFF, (base[i] + 1) & 0xFF):
                mutated = base[:i] + bytes([v]) + base[i + 1 :]
                for fn in (probe_image, decode_raster):
                    try:
                        fn(mutated)
                    except DecodeUnavailable:
                        pass
        for cut in range(0, len(base), max(1, len(base) // 20)):
            for fn in (probe_image, decode_raster):
                try:
                    fn(base[:cut])
                except DecodeUnavailable:
                    pass


# ---------------------------------------------------------------------------
# interval-union and skyline properties vs pure-python models
# ---------------------------------------------------------------------------


def _model_islands(iv):
    """Reference interval union: per key, sort by (s, e), sweep."""
    by_key = {}
    for key, _eid, s, e in iv:
        by_key.setdefault(key, []).append((s, e))
    out = []
    for key, spans in by_key.items():
        spans.sort()
        cur_s, cur_e, n = None, None, 0
        for s, e in spans:
            if cur_s is None or s > cur_e:
                if cur_s is not None:
                    out.append((key, cur_s, cur_e, n, cur_e - cur_s))
                cur_s, cur_e, n = s, e, 1
            else:
                cur_e = max(cur_e, e)
                n += 1
        if cur_s is not None:
            out.append((key, cur_s, cur_e, n, cur_e - cur_s))
    return sorted(out)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    iv=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),  # key: force collisions
            st.integers(min_value=0, max_value=10**6),  # event_id
            st.integers(min_value=0, max_value=100),  # start
            st.integers(min_value=0, max_value=60),  # duration
        ),
        max_size=25,
    )
)
def test_merge_intervals_matches_python_sweep(spark, iv):
    """merge_intervals == the pure-python sweep on arbitrary
    overlapping / nested / touching / duplicate intervals, including
    zero-length ones."""
    from node_js_etl_processor_spark.operators.intervals import (
        merge_intervals,
    )

    rows = [
        (key, i, s, s + d) for i, (key, _eid, s, d) in enumerate(iv)
    ]
    if not rows:
        return
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, s_us long, e_us long"
    )
    got = sorted(
        (
            r["user_id"],
            r["island_start_us"],
            r["island_end_us"],
            r["n_events"],
            r["span_us"],
        )
        for r in merge_intervals(df).collect()
    )
    assert got == _model_islands(rows)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    pts=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=20),  # price (small: ties)
            st.integers(min_value=1, max_value=8),  # size (small: ties)
        ),
        min_size=1,
        max_size=20,
    )
)
def test_skyline_matches_python_dominance(spark, pts):
    """q_skyline == the quadratic python dominance filter under heavy
    tie/duplicate pressure (tiny domains force equal prices, equal
    sizes, and exact duplicate pairs)."""
    from node_js_etl_processor_spark.operators.skyline import q_skyline

    rows = [
        (pk, "n", "b", "t", size, price / 100.0)
        for pk, (price, size) in enumerate(pts)
    ]
    df = spark.createDataFrame(
        rows,
        "p_partkey long, p_name string, p_brand string, p_type string,"
        " p_size int, p_retailprice double",
    )
    got = sorted(
        (r["price_cents"], r["p_size"], r["n_parts"], r["min_partkey"])
        for r in q_skyline(df).collect()
    )
    pairs = {}
    for pk, (price, size) in enumerate(pts):
        n, mn = pairs.get((price, size), (0, pk))
        pairs[(price, size)] = (n + 1, min(mn, pk))
    want = sorted(
        (p, sz, n, mn)
        for (p, sz), (n, mn) in pairs.items()
        if not any(
            q[0] <= p and q[1] >= sz and (q[0] < p or q[1] > sz)
            for q in pairs
        )
    )
    assert got == want


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    streams=st.lists(
        st.lists(st.integers(min_value=0, max_value=900), min_size=1, max_size=25),
        min_size=1,
        max_size=3,
    ),
    k=st.integers(min_value=0, max_value=500),
    h=st.integers(min_value=1, max_value=800),
)
def test_cusum_window_identity_matches_recursion(spark, streams, k, h):
    """The prefix-sum/running-min window form of q_cusum_alarms IS
    Page's recursion: for random integer-cent streams and random
    (K, H), the alarm set equals the literal S = max(0, S + (x - K))
    fold — the identity the operator's scale shape depends on."""
    import datetime

    from node_js_etl_processor_spark.operators.cusum import q_cusum_alarms

    t0 = datetime.datetime(2024, 1, 1)
    rows = []
    want = set()
    for u, xs in enumerate(streams):
        s = 0
        for i, c in enumerate(xs):
            eid = u * 1000 + i
            rows.append((eid, t0 + datetime.timedelta(hours=i), u, c / 100.0))
            s = max(0, s + (c - k))
            if s > h:
                want.add((u, eid, c, s))
    hand = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, value double"
    )
    got = {
        (r["user_id"], r["event_id"], r["x_cents"], r["s_cents"])
        for r in q_cusum_alarms(hand, k_cents=k, h_cents=h).collect()
    }
    assert got == want


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    groups=st.lists(
        st.lists(st.integers(min_value=0, max_value=9), min_size=1, max_size=30),
        min_size=1,
        max_size=3,
    ),
    b=st.integers(min_value=1, max_value=10),
)
def test_equidepth_bucket_arithmetic_matches_ntile(spark, groups, b):
    """The distributed grouped-rank + arithmetic bucket assignment of
    q_equidepth_hist equals Spark's own ntile() window for random
    groups (heavy ties included) and random bucket counts — the
    SQL-standard first-r-buckets-larger law the rewrite re-derives."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from node_js_etl_processor_spark.operators.histogram import (
        q_equidepth_hist,
    )

    rows = [
        (chr(65 + g), float(p), g * 1000 + i, 1)
        for g, ps in enumerate(groups)
        for i, p in enumerate(ps)
    ]
    hand = spark.createDataFrame(
        rows,
        "l_returnflag string, l_extendedprice double, l_orderkey long,"
        " l_linenumber int",
    )
    got = sorted(
        tuple(r) for r in q_equidepth_hist(hand, n_buckets=b, parts=3).collect()
    )
    w = Window.partitionBy("l_returnflag").orderBy(
        F.col("cents").asc(), F.col("l_orderkey").asc(),
        F.col("l_linenumber").asc(),
    )
    ref = sorted(
        tuple(r)
        for r in (
            hand.select(
                "l_returnflag",
                F.round(F.col("l_extendedprice") * 100)
                .cast("bigint")
                .alias("cents"),
                "l_orderkey",
                "l_linenumber",
            )
            .withColumn("bucket", F.ntile(b).over(w).cast("bigint"))
            .groupBy("l_returnflag", "bucket")
            .agg(
                F.count("*").cast("bigint").alias("n"),
                F.min("cents").alias("lo_cents"),
                F.max("cents").alias("hi_cents"),
            )
            .collect()
        )
    )
    assert got == ref


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    frames=st.lists(
        st.lists(st.integers(min_value=0, max_value=200), min_size=1, max_size=3),
        min_size=1,
        max_size=12,
    ),
)
def test_sax_word_matches_rank_model(spark, frames):
    """q_sax_symbols equals a literal Python model of the rank-based
    SAX pipeline for one user: PAA means as exact fractions, NTILE's
    first-r-buckets-larger law over (mean, frame) order, word in time
    order. Small-integer sums keep fraction order == double order, so
    the model is exact."""
    import datetime
    from fractions import Fraction

    from node_js_etl_processor_spark.operators.sax import (
        ALPHABET,
        q_sax_symbols,
    )

    t0 = datetime.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for fi, vals in enumerate(frames):
        for m, v in enumerate(vals):
            rows.append(
                (eid, t0 + datetime.timedelta(hours=fi, minutes=m), 1,
                 float(v))
            )
            eid += 1
    hand = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, value double"
    )
    # model: rank frames by (mean, index), assign ntile buckets
    n = len(frames)
    order = sorted(
        range(n), key=lambda i: (Fraction(sum(frames[i]), len(frames[i])), i)
    )
    q, r = divmod(n, ALPHABET)
    sym = {}
    pos = 0
    for bucket in range(1, ALPHABET + 1):
        size = q + 1 if bucket <= r else q
        for _ in range(size):
            if pos < n:
                sym[order[pos]] = chr(96 + bucket)
                pos += 1
    want = "".join(sym[i] for i in range(n))
    row = q_sax_symbols(hand).collect()[0]
    assert (row["n_frames"], row["sax_word"]) == (n, want)


def test_snm_fold_table_is_the_nfkd_strip_contract():
    """The SNM transliteration table's load-bearing properties,
    checked directly against unicodedata (the table is the ONE
    artifact both engines interpolate, so its correctness IS the
    cross-engine parity argument): every mapped char NFKD-strips to
    exactly its ASCII image; the deleted tail is exactly the lone
    combining marks; no duplicate sources; folding is idempotent
    (the image contains no foldable char)."""
    import unicodedata

    from node_js_etl_processor_spark.operators.snm import (
        FOLD_FROM,
        FOLD_TO,
    )

    n_mapped = len(FOLD_TO)
    mapped, deleted = FOLD_FROM[:n_mapped], FOLD_FROM[n_mapped:]
    assert len(set(FOLD_FROM)) == len(FOLD_FROM)
    for src, dst in zip(mapped, FOLD_TO):
        d = unicodedata.normalize("NFKD", src)
        base = [c for c in d if not unicodedata.combining(c)]
        assert base == [dst] and ord(dst) < 128, (src, dst)
    assert deleted == "".join(chr(cp) for cp in range(0x0300, 0x0370))
    # idempotence: no ASCII image is itself in the fold domain, so
    # applying the fold twice equals applying it once
    assert not set(FOLD_TO) & set(FOLD_FROM)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    corpus=st.lists(
        st.lists(st.sampled_from("abcde"), max_size=12), min_size=1, max_size=5
    ),
    drop=st.lists(
        st.lists(st.sampled_from("abcde"), max_size=12), min_size=1, max_size=4
    ),
)
def test_novelty_of_drop_equals_union_batch_on_random_corpora(
    spark, corpus, drop
):
    """Algebraic property: on arbitrary generated corpora with
    DISJOINT doc_ids (the documented ingest precondition),
    novelty_of_drop(drop, shingles(corpus)) must equal
    q_doc_novelty(corpus ∪ drop) restricted to the drop's doc_ids —
    the union-gate algebra (stored counts + within-drop counts ≥ 2)
    beyond the one fixture split the streaming test pins. Token
    streams are tiny and adversarial: empty docs, too-short docs,
    full-duplicate docs, partial overlaps, within-drop-only twins."""
    from node_js_etl_processor_spark.operators.novelty import (
        novelty_of_drop,
        q_doc_novelty,
    )
    from node_js_etl_processor_spark.operators.spans import shingle_positions
    from pyspark.sql import functions as F

    W = 3
    schema = "doc_id long, text string"
    corpus_rows = [(i, " ".join(toks)) for i, toks in enumerate(corpus)]
    drop_rows = [
        (100 + i, " ".join(toks)) for i, toks in enumerate(drop)
    ]
    cdf = spark.createDataFrame(corpus_rows, schema)
    ddf = spark.createDataFrame(drop_rows, schema)
    got = sorted(
        tuple(r) for r in novelty_of_drop(ddf, shingle_positions(cdf, W), W).collect()
    )
    drop_ids = [r[0] for r in drop_rows]
    want = sorted(
        tuple(r)
        for r in q_doc_novelty(cdf.unionByName(ddf), W)
        .filter(F.col("doc_id").isin(drop_ids))
        .collect()
    )
    assert got == want


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    positions=st.lists(
        st.tuples(st.integers(0, 2), st.integers(1, 40)),
        min_size=1,
        max_size=40,
    ),
    w=st.integers(2, 6),
)
def test_span_island_merge_matches_reference_interval_union(
    spark, positions, w
):
    """Algebraic property: spans.extents_from_dup_positions —
    now load-bearing for THREE queries (q_span_extents, q_doc_novelty
    and the drop scorer's gated extents) — must equal a straight
    single-machine interval-union reference on arbitrary duplicated
    position sets: islands are maximal and disjoint, cover exactly
    the union of [pos, pos + w), and n_shingles counts every position
    row (duplicates included) inside its island."""
    from node_js_etl_processor_spark.operators.spans import (
        extents_from_dup_positions,
    )

    dup = spark.createDataFrame(
        [(d, p) for d, p in positions], "doc_id long, pos long"
    )
    got = sorted(
        tuple(r)
        for r in extents_from_dup_positions(dup, w)
        .select("doc_id", "start_tok", "end_tok", "n_shingles", "span_len")
        .collect()
    )

    # reference: per doc, sort positions, greedily merge [p, p+w)
    from collections import defaultdict

    by_doc = defaultdict(list)
    for d, p in positions:
        by_doc[d].append(p)
    want = []
    for d, ps in by_doc.items():
        ps.sort()
        start, end, n = ps[0], ps[0] + w, 1
        for p in ps[1:]:
            if p > end:  # strictly past the running max end -> new island
                want.append((d, start, end, n, end - start))
                start, end, n = p, p + w, 1
            else:
                end = max(end, p + w)
                n += 1
        want.append((d, start, end, n, end - start))
    assert got == sorted(want)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["1-URGENT", "2-HIGH", "3-MEDIUM"]),
            st.integers(0, 2000),        # day offset from 1995-01-01
            st.integers(100, 10_000_00), # price in cents
            st.integers(0, 2),           # which partial the row lands in
        ),
        min_size=1,
        max_size=30,
    )
)
def test_trend_stats_merge_associative_on_random_splits(spark, rows):
    """Algebraic property: the trend store lane's merge law —
    trend_stats over arbitrary disjoint splits, unioned and finished
    by trend_from_stats, must equal q_ols_trend over the whole frame
    bit-for-bit (BIGINT sums are associative; the slope is one
    fixed-shape double over identical integers). This is the exact
    algebra the streamed sufficient-statistics store relies on."""
    import datetime as dt

    from node_js_etl_processor_spark.operators.trend import (
        q_ols_trend,
        trend_from_stats,
        trend_stats,
    )

    t0 = dt.date(1995, 1, 1)
    schema = (
        "o_orderpriority string, o_orderdate date, o_totalprice double"
    )
    parts = {0: [], 1: [], 2: []}
    for prio, day, cents, part in rows:
        parts[part].append(
            (prio, t0 + dt.timedelta(days=day), cents / 100.0)
        )
    whole = spark.createDataFrame(sum(parts.values(), []), schema)
    partials = [
        trend_stats(spark.createDataFrame(p, schema))
        for p in parts.values()
        if p
    ]
    merged = partials[0]
    for p in partials[1:]:
        merged = merged.unionByName(p)
    got = sorted(tuple(r) for r in trend_from_stats(merged).collect())
    want = sorted(tuple(r) for r in q_ols_trend(whole).collect())
    assert got == want and len(got) > 0


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    # up to 4 distinct contents, each appearing 1-3 times, dealt into
    # 1-3 delivery batches at random positions
    multiplicities=st.lists(
        st.integers(min_value=1, max_value=3), min_size=1, max_size=4
    ),
    batch_of=st.lists(
        st.integers(min_value=0, max_value=2), min_size=12, max_size=12
    ),
)
def test_novelty_gate_exact_twin_admission_is_batching_independent(
    spark, tmp_path_factory, multiplicities, batch_of
):
    """Property-pinned: with
    pairwise token-disjoint contents (so the gate can cut only through
    exact duplication), exactly ONE copy of every content is admitted
    NO MATTER how its copies are dealt across delivery batches — the
    min-doc_id representative of the earliest batch carrying that
    content. Before the keep-one rule, two copies landing in one
    batch cut each other and a later re-delivery was admitted
    instead, so the admitted set depended on batching."""
    from node_js_etl_processor_spark.streaming.spanstore import (
        novelty_gated_ingest_applier,
    )

    W = 3
    # content g: 8 unique tokens no other content shares → zero
    # cross-content shingle collisions
    texts = {
        g: " ".join(f"g{g}tok{i}" for i in range(8))
        for g in range(len(multiplicities))
    }
    copies = []  # (doc_id, content)
    did = 0
    for g, m in enumerate(multiplicities):
        for _ in range(m):
            copies.append((did, g))
            did += 1
    batches: "dict[int, list]" = {0: [], 1: [], 2: []}
    for i, (doc_id, g) in enumerate(copies):
        batches[batch_of[i % len(batch_of)]].append((doc_id, texts[g]))

    store_root = tmp_path_factory.mktemp("gate_prop")
    apply = novelty_gated_ingest_applier(
        str(store_root / "s"), str(store_root / "o"), str(store_root / "c"),
        max_dup_pct=50, w=W,
    )
    admitted = []
    first_batch_of_content: "dict[str, int]" = {}
    for b in range(3):
        rows = batches[b]
        if not rows:
            continue
        for _d, text in rows:
            first_batch_of_content.setdefault(text, b)
        out = apply(spark.createDataFrame(rows, "doc_id long, text string"), b)
        admitted += [(r["doc_id"], r["text"]) for r in out.collect()]

    # exactly one admitted copy per distinct content…
    assert sorted(t for _d, t in admitted) == sorted(set(texts.values()))
    # …and it is the min-doc_id copy of the earliest batch carrying it
    for doc_id, text in admitted:
        b = first_batch_of_content[text]
        want = min(d for d, t in batches[b] if t == text)
        assert doc_id == want, (doc_id, want, text)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    groups=st.lists(
        st.lists(
            st.integers(min_value=-50, max_value=50), min_size=1, max_size=25
        ),
        min_size=1,
        max_size=3,
    ),
    n_buckets=st.integers(min_value=1, max_value=6),
)
def test_equidepth_hist_matches_reference_ntile_on_random_groups(
    spark, groups, n_buckets
):
    """Property-pinned beyond the fixture parity: on
    arbitrary integer multisets (ties included — the total order
    tie-breaks on the key columns), the distributed grouped-rank +
    NTILE arithmetic reproduces the SQL-standard NTILE reference
    computed directly in Python: first n mod B buckets hold one extra
    row, per-bucket [lo, hi] bounds come off the sorted order."""
    from node_js_etl_processor_spark.operators.histogram import (
        q_equidepth_hist,
    )

    rows = []
    key = 0
    for g, vals in enumerate(groups):
        for v in vals:
            # l_extendedprice = v so cents = 100*v; unique (okey, line)
            rows.append((str(g), float(v), key, 0))
            key += 1
    df = spark.createDataFrame(
        rows,
        "l_returnflag string, l_extendedprice double, "
        "l_orderkey long, l_linenumber int",
    )
    got = {
        (r["l_returnflag"], r["bucket"]): (r["n"], r["lo_cents"], r["hi_cents"])
        for r in q_equidepth_hist(df, n_buckets=n_buckets).collect()
    }
    want = {}
    for g, vals in enumerate(groups):
        s = sorted(100 * v for v in vals)
        n, q, r = len(s), len(s) // n_buckets, len(s) % n_buckets
        pos = 0
        for b in range(1, n_buckets + 1):
            size = q + (1 if b <= r else 0)
            if size == 0:
                continue
            chunk = s[pos : pos + size]
            want[(str(g), b)] = (size, chunk[0], chunk[-1])
            pos += size
    assert got == want


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    groups=st.lists(
        st.lists(
            st.integers(min_value=0, max_value=40), min_size=1, max_size=20
        ),
        min_size=1,
        max_size=3,
    )
)
def test_gini_concentration_matches_reference_on_random_groups(spark, groups):
    """Property-pinned beyond the fixture parity: the
    rank-weighted integer sufficient statistics (n, sum_x, sum_ix)
    equal the direct Python computation over the sorted sizes on
    arbitrary non-negative integer multisets (ties broken by doc_id,
    which leaves sum_ix unchanged — asserted implicitly by comparing
    against ANY sorted order), and the one fixed-shape double for G
    matches IEEE-exactly."""
    from node_js_etl_processor_spark.operators.gini import (
        q_gini_concentration,
    )

    rows, did = [], 0
    for g, vals in enumerate(groups):
        for v in vals:
            rows.append((str(g), v, did))
            did += 1
    df = spark.createDataFrame(rows, "source string, n_chars long, doc_id long")
    got = {
        r["source"]: (r["n"], r["sum_x"], r["sum_ix"], r["gini"])
        for r in q_gini_concentration(df).collect()
    }
    for g, vals in enumerate(groups):
        s = sorted(vals)
        n = len(s)
        sum_x = sum(s)
        sum_ix = sum((i + 1) * x for i, x in enumerate(s))
        gini = (
            2.0 * float(sum_ix) / (float(n) * float(sum_x)) - (float(n) + 1.0) / float(n)
            if sum_x
            else None
        )
        gn, gx, gix, gg = got[str(g)]
        assert (gn, gx, gix) == (n, sum_x, sum_ix)
        if sum_x:
            assert gg == gini
        else:
            # all-zero sizes: the coefficient is undefined — both
            # engines emit NULL (the ANSI divide-by-zero case)
            assert gg is None


@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    base_sz=st.integers(8, 26),
    seed=st.integers(0, 2**31 - 1),
    t=st.sampled_from([(9, 10), (19, 20)]),
)
def test_setsim_pigeonhole_matches_python_bruteforce(spark, base_sz, seed, t):
    """Property: the pigeonhole signature join vs a pure-Python
    brute force — randomized corpora built as perturbations of a base
    set (exact twins, 1-out-1-in swaps, supersets, disjoint noise),
    so qualifying pairs, boundary pairs and the exact-twin collapse
    all appear. Unlike the path-equality test (two Spark paths that
    share _rep_sets), the oracle here shares NO engine code: Python
    set algebra on the token strings."""
    import itertools
    import random

    from node_js_etl_processor_spark.operators.setsim import setsim_join

    t_num, t_den = t
    rng = random.Random(seed)
    vocab = [f"v{i:03d}" for i in range(60)]
    base = vocab[:base_sz]
    docs_tokens: "list[list[str]]" = []
    docs_tokens.append(list(base))
    docs_tokens.append(list(base))                      # exact twin
    for _ in range(rng.randint(1, 4)):                  # near variants
        kind = rng.choice(["swap", "super", "drop"])
        v = list(base)
        if kind == "swap":
            v[rng.randrange(len(v))] = vocab[base_sz + rng.randrange(10)]
        elif kind == "super":
            v.append(vocab[base_sz + rng.randrange(10)])
        else:
            v.pop(rng.randrange(len(v)))
        docs_tokens.append(v)
    for _ in range(rng.randint(0, 2)):                  # disjoint noise
        k = rng.randint(1, 6)
        docs_tokens.append(rng.sample(vocab[40:], k))
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs_tokens)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    # python oracle: collapse identical sets to min-id reps, then
    # exact Jaccard over distinct-set pairs
    by_set: "dict[frozenset, list[int]]" = {}
    for i, toks in enumerate(docs_tokens):
        s = frozenset(w.lower() for w in toks if w)
        if s:
            by_set.setdefault(s, []).append(i)
    reps = sorted((min(ids), s, len(ids)) for s, ids in by_set.items())
    want = {}
    for (ia, sa, ga), (ib, sb, gb) in itertools.combinations(reps, 2):
        inter = len(sa & sb)
        union = len(sa | sb)
        if inter * t_den >= union * t_num:
            # reps are sorted by min doc_id, so ia < ib always
            want[(ia, ib)] = (inter, union, ga, gb)

    got = {
        (r["doc_a"], r["doc_b"]): (
            r["inter"], r["union_sz"], r["group_a"], r["group_b"]
        )
        for r in setsim_join(docs, t_num, t_den).collect()
    }
    assert got == want
