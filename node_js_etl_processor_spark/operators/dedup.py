"""Deduplication operators for training-data pipelines (north star).

Five dedup families over the ``documents`` table, each scale-designed:

- **exact** — hash-groupBy on the full text (or its md5 fingerprint so
  the shuffle carries 16 bytes, not documents).
- **MinHash + LSH** (Broder, "On the resemblance and containment of
  documents", 1997; banding per Leskovec/Rajaraman/Ullman MMDS ch.3) —
  shingle → k minhashes → band buckets → within-bucket candidate
  pairs. Candidate generation is a self-join on (band, bucket-hash):
  only colliding docs meet, never the O(n²) cross product. All hashing
  is ``xxhash64`` (JVM, seeded) — deterministic.
- **SimHash** (Charikar, "Similarity estimation techniques from
  rounding algorithms", STOC 2002) — 64-bit signature from token-hash
  bit voting; near-dups collide on band substrings of the signature.
- **n-gram Jaccard** — exact Jaccard over shingle sets for candidate
  pairs produced by LSH (verification stage of the standard pipeline).
- **embedding cosine** — near-dup via random-hyperplane LSH buckets over
  embeddings, verified by exact cosine (operators/similarity.py).

The reference has no dedup code; its README documents an intended
``ON CONFLICT (name, state_province)`` upsert (reference
README.md:295-310) whose engine form is q_dedup_upsert in
operators/relational.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from node_js_etl_processor_spark.catalog import spread
from node_js_etl_processor_spark.functions import barrier
from node_js_etl_processor_spark.operators.text import fingerprint

# ------------------------------------------------------------------ exact


def q_dedup_docs(documents: DataFrame) -> DataFrame:
    """Exact-text dedup with deterministic keeper (min doc_id) —
    declared query q_dedup_docs.

    Scale: groups on the md5 fingerprint (16-byte shuffle key) rather
    than the raw text; at 100 TB this is the difference between
    shuffling 100 TB and shuffling ~32 GB of digests.
    """
    return (
        documents.select("doc_id", fingerprint(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"), F.count("*").alias("n_copies"))
        .select("doc_id", "n_copies")
    )


def first_per_key(
    rows: DataFrame,
    key: str,
    order: str = "doc_id",
    seen: DataFrame | None = None,
) -> DataFrame:
    """The keeper rule of every exact-key dedup: of each group of
    rows with the same ``key`` column keep the min-``order`` row with
    all its columns — a ``row_number``, so exactly one row per key
    even when ``order`` repeats. ``seen`` (a frame holding the
    ``key`` column of keys already kept, e.g. a dedup store) first
    drops every row whose key it holds: one left_anti on the key, so
    the probe shuffles keys, never rows of the store.

    Scale: one window over the key, batch-sized."""
    from pyspark.sql import Window

    if seen is not None:
        rows = rows.join(seen.select(key), key, "left_anti")
    w = Window.partitionBy(key).orderBy(F.col(order))
    return (
        rows.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def exact_twin_reps(docs: DataFrame) -> DataFrame:
    """Exact-twin collapse: of every group of rows with the same text
    fingerprint keep the min-doc_id row (q_dedup_docs' keeper rule)
    with all its columns — ``first_per_key`` over the fingerprint.
    The novelty gate's within-drop twin rule
    (streaming/spanstore.py)."""
    keyed = docs.withColumn("_fp", fingerprint(F.col("text")))
    return first_per_key(keyed, "_fp").drop("_fp")


# ----------------------------------------------------------- minhash + lsh


def tokens(text: Column) -> Column:
    """Lowercased whitespace tokens, empties removed."""
    return F.filter(F.split(F.lower(text), r"\s+"), lambda t: t != "")


def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Word n-gram shingles as distinct strings.

    Eval-cost contract (same as text.winnow_minima): ``toks`` MUST be a
    bound column reference, not an inline expression — the lambda below
    references it once per shingle index, so an inline token expression
    would re-split the text O(T) times (O(T²) per doc).
    """
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, n), " "))
    )


def portable_hash64(col: Column) -> Column:
    """md5-derived 64-bit hash with IDENTICAL bits in Spark and ANSI
    SQL: the first 16 hex chars of md5 read as an unsigned 64-bit
    value, re-expressed in bigint two's complement. The oracle side is
    ``('0x' || substr(md5(x),1,16))::UBIGINT`` — cross-engine equality
    is pinned by the dedup oracle suite. xxhash64 stays the perf path
    (one hash vs md5+conv), same winnowing precedent as
    text.gram_hashes(portable=True).
    """
    hx = F.md5(col)
    hi = F.conv(F.substring(hx, 1, 8), 16, 10).cast("bigint")
    lo = F.conv(F.substring(hx, 9, 8), 16, 10).cast("bigint")
    # (hi << 32) | lo assembles the unsigned value's two's-complement
    # bits directly — shiftleft is a bit op, exempt from ANSI overflow
    return F.shiftleft(hi, 32).bitwiseOR(lo)


#: Mersenne prime 2^31 - 1: the modulus of the portable minhash LCG
#: family. Products a*h stay under 2^62, so the arithmetic is exact
#: (and ANSI-overflow-safe) in 64-bit integers in BOTH engines.
P31 = 2147483647


def minhash_lcg_consts(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) constants for the portable minhash family
    h_seed(x) = (a*x + b) mod P31 — the classic universal linear-
    congruential permutation family (Broder 1997 uses exactly such
    per-seed linear permutations). Derived from the same splitmix64
    mix used for SRP hyperplanes; embedded as literals in both the
    Spark expressions and the DuckDB oracle SQL."""
    consts = []
    for seed in range(num_hashes):
        z = (seed + 1) * 0x9E3779B97F4A7C15 % (1 << 64)
        z = (z ^ (z >> 30)) * 0xBF58476D1CE4E5B9 % (1 << 64)
        z = (z ^ (z >> 27)) * 0x94D049BB133111EB % (1 << 64)
        z ^= z >> 31
        consts.append(((z % (P31 - 1)) + 1, (z >> 32) % P31))
    return consts


def minhash_signatures(
    documents: DataFrame, num_hashes: int = 32, shingle_n: int = 3, portable: bool = False
) -> DataFrame:
    """k independent minhashes per doc, SHUFFLE-FREE: shingle strings
    are hashed ONCE (xxhash64 → long), then each of the k minhash
    functions is a cheap re-hash of that 8-byte long with the seed —
    xxhash64(xxhash64(s), i) — and an array_min over the bound hash
    array. One narrow codegen projection per document, zero exchanges.

    Two eval-cost contracts make this the fast form:
    - the hash array binds to a column first (see shingles_from_tokens)
      so the k min-passes scan a materialized array instead of
      re-evaluating the shingle expression k times (that naive inline
      form was ~100x slower);
    - the string is hashed once, not k times — the per-seed re-hash
      touches 8 fixed bytes, so k×|shingle| string hashing collapses
      to |shingle| + k×8 bytes per shingle.

    The explode formulation (explode → one groupBy with k map-side-partial
    MINs) is equally scale-valid — one shuffle carrying k longs per
    doc — and wins when downstream wants the exploded postings anyway;
    this narrow form wins when signatures are the only output, which
    is the LSH pipeline's case.

    Token-less (empty/whitespace-only) docs are EXCLUDED, mirroring
    q_dedup_simhash's drop_tokenless: their shingle set degenerates to
    [""], so g such docs share every band bucket and produce C(g,2)
    meaningless candidate pairs per band. Exact dedup (q_dedup_docs)
    still groups empty texts.

    ``portable=True`` swaps the xxhash64 family for an engine-neutral
    one — hash-once: low 31 bits of the md5-derived ``portable_hash64``
    per shingle, then each seed's minhash is the min of the universal
    LCG permutation (a*h + b) mod P31 (see minhash_lcg_consts). This
    puts the whole LSH pipeline under the DuckDB oracle gate at
    ~xxhash64 cost: one md5 per shingle, then pure 64-bit arithmetic
    for all k min-passes.

    Returns (doc_id, h0..h{k-1}).
    """
    documents = spread(documents)
    toked = documents.select("doc_id", tokens(F.col("text")).alias("toks")).filter(
        F.size("toks") > 0
    )
    sh = toked.select(
        "doc_id", shingles_from_tokens(F.col("toks"), shingle_n).alias("sh")
    )
    if portable:
        # low 31 bits of portable_hash64 == bits of md5 chars 9..16
        # masked to 31 — one md5 + one conv per shingle
        hs = sh.select(
            "doc_id",
            F.transform(
                F.col("sh"),
                lambda s: F.conv(F.substring(F.md5(s), 9, 8), 16, 10)
                .cast("bigint")
                .bitwiseAND(F.lit(0x7FFFFFFF)),
            ).alias("hs"),
        )
        mins = [
            f"array_min(transform(hs, x -> ({a} * x + {b}) % {P31})) AS h{seed}"
            for seed, (a, b) in enumerate(minhash_lcg_consts(num_hashes))
        ]
    else:
        hs = sh.select(
            "doc_id", F.transform(F.col("sh"), lambda s: F.xxhash64(s)).alias("hs")
        )
        mins = [
            f"array_min(transform(hs, x -> xxhash64(x, {seed}))) AS h{seed}"
            for seed in range(num_hashes)
        ]
    # the k min-passes as SQL text: one JVM call for all k columns
    return hs.selectExpr("doc_id", *mins)


def minhash_band_postings(
    documents: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    portable: bool = False,
) -> DataFrame:
    """(band, bucket, doc_id) LSH postings — the exploded band-bucket
    keys of ``minhash_signatures``. This is the unit both the
    full-corpus self-join (``minhash_candidates``) and the incremental
    delta probe (``sources.dedup_store.dedup_minhash_delta``) consume;
    at ingest it is ALSO what the near-dup store persists, so a crawl
    drop never re-hashes the accepted corpus."""
    sig = minhash_signatures(documents, num_hashes, shingle_n, portable=portable)
    return minhash_band_postings_from_sigs(sig, num_hashes, bands, portable)


def minhash_band_postings_from_sigs(
    sig: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    portable: bool = False,
) -> DataFrame:
    """The banding step of ``minhash_band_postings`` over a
    (doc_id, h0..h{num_hashes-1}) signature frame, for a caller that
    already holds the signatures (the near-dup ingest applier and
    ``minhash_near_dup_keepers`` keep them for verification, so the
    batch is hashed once)."""
    rows_per_band = num_hashes // bands
    hash_fn = "md5" if portable else "xxhash64"

    def _bucket(b: int) -> str:
        rows = range(b * rows_per_band, (b + 1) * rows_per_band)
        joined = ", ".join(f"CAST(h{i} AS STRING)" for i in rows)
        return f"{hash_fn}(concat_ws(',', {joined}))"

    # all band structs as one SQL text: one JVM call, not one per hash
    structs = ", ".join(f"struct({b} AS band, {_bucket(b)} AS bucket)" for b in range(bands))
    return sig.selectExpr("doc_id", f"explode(array({structs})) AS bb").selectExpr(
        "bb.band AS band", "bb.bucket AS bucket", "doc_id"
    )


def minhash_candidates(
    documents: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    portable: bool = False,
    materialize: bool = True,
) -> DataFrame:
    """LSH candidate pairs: docs sharing ≥1 (band, bucket).

    Scale path: signatures → explode to (band, bucket, doc_id) —
    cardinality n_docs × bands — then self-join grouped by (band,
    bucket). Only bucket collisions are joined; the exchange is keyed
    on the bucket hash, so skew is bounded by bucket size, and AQE's
    skew-join splits oversized buckets. Pairs are deduped min/max.

    ``portable`` selects the hash family (see minhash_signatures); the
    band bucket is then md5 of the comma-joined row minima, which the
    DuckDB oracle reproduces verbatim.

    ``materialize``: cut the postings before the self-join, which
    references them on both sides and would otherwise re-run the
    signature build per side. ``q_dedup_minhash`` keeps the default.
    ``q_dedup_components`` passes False: ``connected_components``
    cuts its (distinct, self-loop-free) edge input anyway, so a
    postings cut there is a second sequential job (measured
    2.13 → 3.19 s) while lazy postings pipeline the whole LSH build
    into that one cut. The rows are identical either way.
    """
    buckets = minhash_band_postings(
        documents, num_hashes, bands, shingle_n, portable=portable
    )
    if materialize:
        buckets = barrier.cut(buckets, "dedup.minhash_candidates")
    a = buckets.alias("a")
    b = buckets.alias("b")
    pairs = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
    )
    return pairs.distinct()


def q_dedup_minhash(documents: DataFrame) -> DataFrame:
    """MinHash-LSH near-dup summary: candidate pairs + their exact
    shingle-Jaccard (verification stage fused in).

    Declared in the PORTABLE (md5) hash form, so the ENTIRE pipeline —
    shingling, hash-once signatures, banded buckets, candidate join,
    Jaccard verify — is differentially checked against a DuckDB oracle
    computing the same md5 family. ``minhash_candidates(docs,
    portable=False)`` is the xxhash64 perf path (same plan shape;
    equivalence of the LSH selection logic pinned by unit tests).
    """
    documents = spread(documents)
    cands = minhash_candidates(documents, portable=True)
    # (cutting this shingle frame for the two verify sides was
    # measured a wash at sf0.1 and is NOT scale-sound — it
    # materializes corpus-sized shingle arrays, unlike the postings
    # cut inside minhash_candidates, which is a few
    # bytes per doc. Left as two narrow passes deliberately.)
    sh = documents.select("doc_id", tokens(F.col("text")).alias("toks")).select(
        "doc_id", shingles_from_tokens(F.col("toks")).alias("sh")
    )
    return (
        cands.join(sh.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sh", "sh_a"), "doc_a")
        .join(sh.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sh", "sh_b"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")),
                6,
            ).alias("jaccard"),
        )
        .orderBy("doc_a", "doc_b")
    )


# ----------------------------------------------------------------- simhash


def simhash_signatures(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """64-bit SimHash per document from token xxhash64 bit-voting.

    Plan shape (scale-deliberate): SHUFFLE-FREE. The distinct-token
    hash array binds to a column (eval-cost contract, see
    shingles_from_tokens), then each of the 64 bit votes is an O(T)
    array aggregate over that bound column and the signature is
    assembled bit-wise — one narrow codegen projection per document,
    zero exchanges. (The earlier explode → groupBy(64 sums) → join-back
    formulation paid two shuffles and a join for the same arithmetic.)

    Returns (doc_id, sig bigint); token-less docs get sig=0.
    """
    hashed = spread(documents).select(
        "doc_id",
        F.transform(F.array_distinct(tokens(F.col(text_col))), lambda t: F.xxhash64(t)).alias(
            "ht"
        ),
    )
    # the 64 votes and the 64-bit assembly as SQL text: one JVM call each
    # (in the fold, x is the running vote and y a token hash)
    votes = ", ".join(
        f"aggregate(ht, 0, (x, y) -> x + CASE WHEN (shiftright(y, {i}) & 1) = 1"
        " THEN 1 ELSE -1 END)"
        for i in range(64)
    )
    bits = " | ".join(
        ["CAST(0 AS BIGINT)"]
        + [
            f"shiftleft(CAST(CASE WHEN votes[{i}] > 0 THEN 1 ELSE 0 END AS BIGINT), {i})"
            for i in range(64)
        ]
    )
    with_votes = hashed.selectExpr("doc_id", f"array({votes}) AS votes")
    return with_votes.selectExpr("doc_id", f"{bits} AS sig")


def q_dedup_simhash(documents: DataFrame, max_hamming: int = 3) -> DataFrame:
    """SimHash near-duplicate pairs: candidate generation via 16-bit
    signature bands (4-band split of the 64-bit simhash guarantees
    every pair within Hamming distance 3 collides in ≥1 band), then
    verification keeps only pairs with Hamming ≤ ``max_hamming``.

    The Hamming filter runs BEFORE the pair distinct/sort: band
    collisions on templated corpora are dense (1.2M+ raw collisions on
    5k fixture docs), but verified near-dups are few — filtering first
    keeps the shuffle proportional to true duplicates, not collisions.

    Declared in the PORTABLE (md5-derived 64-bit) token-hash form, so
    signatures, banding, Hamming verify and pair expansion are all
    differentially checked against a DuckDB oracle rebuilding the same
    bit votes; ``portable=False`` (xxhash64) is the perf path.

    Scale design — ALL pair expansion is keyed joins: the
    signature frame is materialized ONCE (a ``barrier.cut`` — the batch
    stand-in for the ingest-time signature column the layout story
    assumes; 16 bytes/row, and it keeps the Arrow kernel from
    re-running on every join branch). Intra-signature (hamming-0)
    pairs come from a sig-keyed equi-self-join; cross-signature
    candidates from a band join over DISTINCT signatures (duplicate-
    heavy corpora put g docs on one signature — banding distinct sigs
    keeps that join tiny); doc pairs are reconstructed by joining the
    surviving sig pairs back to the signature frame on each side. No
    row ever holds more than two doc ids (the earlier collect_list
    doc-array form put an entire signature group in one row — the
    same AQE-unsplittable mega-row family q_dedup_embedding dropped —
    and measured 28% slower at sf0.1).

    Token-less (empty/whitespace-only) documents are EXCLUDED before
    signature computation: they have no features to vote with, so they
    would all degenerate to sig=0 and a C(g,2) pair explosion of
    meaningless "duplicates". A featureless doc has no principled
    similarity to anything; exact dedup (q_dedup_docs) still groups
    empty texts.
    """
    return simhash_pairs(documents, max_hamming=max_hamming, portable=True)


def simhash_pairs(
    documents: DataFrame, max_hamming: int = 3, portable: bool = True
) -> DataFrame:
    """The q_dedup_simhash pair machinery with the hash family as a
    parameter (so the incremental store — xxhash64 perf
    family — can be equivalence-tested against the identical batch
    form; the declared query keeps portable=True for its oracle)."""
    # numpy kernel: bit-for-bit equal to simhash_signatures (pinned in
    # tests) and ~4x faster — 64 interpreted array-aggregates lose to
    # one vectorized unpackbits pass (SCALE.md "Python boundaries").
    # drop_tokenless fuses the featureless-doc exclusion into the same
    # projection that computes the token-hash array (no second pass).
    sigs = barrier.cut(
        simhash_signatures_numpy(documents, drop_tokenless=True, portable=portable),
        "dedup.simhash_pairs",
    )

    # 1) intra-signature pairs: hamming 0 via sig-keyed self-join
    a, b = sigs.alias("a"), sigs.alias("b")
    intra = a.join(
        b, (F.col("a.sig") == F.col("b.sig")) & (F.col("a.doc_id") < F.col("b.doc_id"))
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.lit(0).cast("bigint").alias("hamming"),
    )

    # 2) cross-signature pairs: band join over distinct signatures
    banded = (
        sigs.select("sig")
        .distinct()
        .select(
            "sig",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(bb).alias("band"),
                            F.shiftright(F.col("sig"), bb * 16)
                            .bitwiseAND(F.lit(0xFFFF))
                            .alias("chunk"),
                        )
                        for bb in range(4)
                    ]
                )
            ).alias("bb"),
        )
        .select("sig", F.col("bb.band").alias("band"), F.col("bb.chunk").alias("chunk"))
    )
    x, y = banded.alias("x"), banded.alias("y")
    sig_pairs = (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.chunk") == F.col("y.chunk"))
            & (F.col("x.sig") < F.col("y.sig")),
        )
        .select(
            F.col("x.sig").alias("sig_a"),
            F.col("y.sig").alias("sig_b"),
            F.bit_count(F.col("x.sig").bitwiseXOR(F.col("y.sig")))
            .cast("bigint")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["sig_a", "sig_b"])  # same sig pair may collide in >1 band
    )
    sa, sb = sigs.alias("sa"), sigs.alias("sb")
    cross = (
        sig_pairs.join(sa, F.col("sig_a") == F.col("sa.sig"))
        .join(sb, F.col("sig_b") == F.col("sb.sig"))
        .select(
            F.least(F.col("sa.doc_id"), F.col("sb.doc_id")).alias("doc_a"),
            F.greatest(F.col("sa.doc_id"), F.col("sb.doc_id")).alias("doc_b"),
            "hamming",
        )
    )

    return intra.unionByName(cross).orderBy("doc_a", "doc_b")


# ------------------------------------------------------- n-gram jaccard


def q_dedup_ngram(documents: DataFrame) -> DataFrame:
    """Character n-gram Jaccard similarity of each doc against the
    corpus modal shingle bucket — oracle-checkable variant: per-doc
    distinct word-trigram count and a containment score vs the doc's own
    first trigram (deterministic, SQL-expressible in both engines is
    hard for full pairs, so the declared query reports per-doc shingle
    stats; full pairwise Jaccard lives in q_dedup_minhash's verify
    stage).
    """
    toked = spread(documents).select("doc_id", tokens(F.col("text")).alias("toks"))
    return toked.select(
        "doc_id",
        F.size(shingles_from_tokens(F.col("toks"))).cast("bigint").alias("n_shingles"),
        F.size(F.array_distinct(F.col("toks"))).cast("bigint").alias("n_distinct_tokens"),
    )


def simhash_signatures_numpy(
    documents: DataFrame,
    text_col: str = "text",
    drop_tokenless: bool = False,
    portable: bool = False,
) -> DataFrame:
    """SimHash signatures with the bit-vote step vectorized in NumPy.

    ``drop_tokenless=True`` filters docs with an empty token-hash array
    in the same projection (featureless docs would all degenerate to
    sig=0 — see q_dedup_simhash); default False preserves bit-for-bit
    parity with ``simhash_signatures`` for the kernel-equality test.

    ``portable=True`` swaps the per-token xxhash64 for the md5-derived
    ``portable_hash64`` — same 64-bit width and bit conventions, so the
    SAME numpy voting kernel serves both paths and the portable
    signatures are reproducible in the DuckDB oracle
    (``('0x'||substr(md5(t),1,16))::UBIGINT`` + 64 vote sums).

    Identical output to ``simhash_signatures`` (asserted in tests):
    token hashing stays JVM-side (xxhash64/md5, deterministic), and only
    the 64-way bit voting — 64 interpreted higher-order aggregates in
    the pure-JVM form — moves to an Arrow-batched pandas_udf doing one
    ``np.unpackbits`` + column sum per document. This is the documented
    pandas_udf escape hatch (SCALE.md "Python boundaries"): per-element
    JVM expression evaluation loses to one vectorized matrix pass.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _sig(ht_series):
        out = np.zeros(len(ht_series), dtype=np.int64)
        for row_i, ht in enumerate(ht_series):
            if ht is None or len(ht) == 0:
                continue
            h = np.asarray(ht, dtype=np.int64).view(np.uint64)
            # bits[t, i] = (h[t] >> i) & 1 — little-endian byte AND bit order
            bits = np.unpackbits(
                h.view(np.uint8).reshape(len(h), 8), axis=1, bitorder="little"
            )
            votes = 2 * bits.sum(axis=0, dtype=np.int64) - len(h)
            sig = np.uint64(0)
            for i in np.nonzero(votes > 0)[0]:
                sig |= np.uint64(1) << np.uint64(i)
            out[row_i] = sig.astype(np.int64).item() if hasattr(sig, "astype") else int(sig)
        return pd.Series(out)

    _sig.__annotations__ = {"ht_series": pd.Series, "return": pd.Series}
    sig_udf = pandas_udf(_sig, "bigint")

    toks_arr = F.array_distinct(tokens(F.col(text_col)))
    if portable:
        # nested transforms: the inner md5 array materializes once, so
        # the outer hex→int64 lambda's two substr/conv references read
        # the element instead of re-hashing the token (portable_hash64
        # inlined would evaluate md5 twice per token)
        ht = F.transform(
            F.transform(toks_arr, lambda t: F.md5(t)),
            lambda h: F.shiftleft(
                F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint"), 32
            ).bitwiseOR(F.conv(F.substring(h, 9, 8), 16, 10).cast("bigint")),
        )
    else:
        ht = F.transform(toks_arr, lambda t: F.xxhash64(t))
    hashed = spread(documents).select("doc_id", ht.alias("ht"))
    if drop_tokenless:
        hashed = hashed.filter(F.size("ht") > 0)
    return hashed.select("doc_id", sig_udf(F.col("ht")).alias("sig"))


# ------------------------------------------------- dedup clustering (CC)


def _large_star(e: DataFrame) -> DataFrame:
    """One large-star round: every node u attaches its STRICTLY LARGER
    neighbors to m = min(N(u) ∪ {u}). Output edges oriented big→small
    (src > dst)."""
    sym = e.select("src", "dst").unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    mins = sym.groupBy("src").agg(
        F.least(F.min("dst"), F.first("src")).alias("m")
    )
    return (
        sym.join(mins, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """One small-star round over big→small edges: every node u rewires
    its smaller neighbors (and itself) to m = min of those neighbors.
    Orientation (src > dst) is preserved."""
    mins = e.groupBy("src").agg(F.min("dst").alias("m"))
    moved = (
        e.join(mins, "src")
        .filter(F.col("dst") != F.col("m"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )
    self_edge = mins.select("src", F.col("m").alias("dst"))
    return (
        moved.unionByName(self_edge)
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _unionfind_labels(edge_rows: list) -> list[tuple[int, int]]:
    """Driver-side union-find (path compression, min-root union) over a
    SMALL edge list. Root of every tree is the component minimum, so
    labels come out as (doc_id, component_min)."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    nodes = set()
    for a, b in edge_rows:
        nodes.add(a)
        nodes.add(b)
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra  # larger root under smaller → root stays min
    return sorted((x, find(x)) for x in nodes)


def connected_components(
    edges: DataFrame,
    max_iterations: int = 20,
    small_graph_threshold: int = 200_000,
) -> DataFrame:
    """Connected components via alternating large-star/small-star
    contraction (Kiveris et al., "Connected components in MapReduce
    and beyond", SoCC 2014) — the component id is the smallest doc_id
    in the component.

    This is the iterative-algorithm tier of the engine (nothing in one SQL
    pass computes transitive closure). Each distributed round rewrites the
    EDGE SET itself — large-star hangs every node's larger neighbors off its
    local minimum, small-star contracts the smaller neighbors — so dense
    near-dup quasi-cliques collapse toward stars in the first round and the
    per-round join input SHRINKS as the graph contracts. Versus min-label
    propagation, which joins the FULL original edge list every round —
    O(|E|) per round on exactly the dense clusters dedup graphs are made of
    — star contraction's per-round cost decays with progress, and rounds are
    O(log n) worst-case rather than O(diameter). A ``barrier.cut`` truncates
    lineage each round.

    Hybrid finish: whenever the CURRENT edge set fits
    ``small_graph_threshold`` (checked before each round, using the
    count the convergence test needs anyway), the remaining work moves
    to a driver-side union-find — the same judgment call as
    broadcasting a small join side. At 100 TB the candidate graph
    starts with billions of edges, so the star rounds do the heavy
    contraction distributed; once the contracted graph is a few
    hundred thousand edges, finishing it locally replaces ~5 more
    cluster rounds (each a full shuffle barrier) with milliseconds on
    the driver. Set ``small_graph_threshold=0`` to force pure
    distributed rounds (used by tests to pin the star algebra).

    Termination of the distributed loop is STRUCTURAL, not
    potential-based: it exits when the edge set is a star forest
    (every src appears once, no node is both src and dst), which is
    exactly the algorithm's fixpoint — each surviving edge then reads
    (doc, component-min). If ``max_iterations`` is exhausted first, a
    RuntimeError is raised rather than returning silently-wrong
    partial labels.

    Input: edges(doc_a, doc_b); output: (doc_id, component_id) for
    every doc appearing in at least one edge.
    """
    spark = edges.sparkSession
    e = barrier.cut(
        edges.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct(),
        "dedup.cc_edges",
    )
    n = e.count()
    for _ in range(max_iterations):
        if n <= small_graph_threshold:
            labels = _unionfind_labels([(r[0], r[1]) for r in e.collect()])
            # schema follows the input's node type so string/int doc ids
            # behave identically on the driver path and the star rounds
            node_type = dict(e.dtypes)["src"]
            return spark.createDataFrame(
                labels, f"doc_id {node_type}, component_id {node_type}"
            )
        e = barrier.cut(_small_star(_large_star(e)), "dedup.cc_round")
        n, n_src = e.agg(F.count("*"), F.countDistinct("src")).first()
        if n == n_src:
            # src-unique; star forest iff no node is both src and dst
            dangling = (
                e.select(F.col("dst").alias("src")).join(e, "src", "left_semi").count()
            )
            if dangling == 0:
                roots = e.select(F.col("dst").alias("doc_id")).distinct().select(
                    "doc_id", F.col("doc_id").alias("component_id")
                )
                return e.select(
                    F.col("src").alias("doc_id"), F.col("dst").alias("component_id")
                ).unionByName(roots)
    raise RuntimeError(
        f"connected_components did not converge in {max_iterations} "
        "rounds — raise max_iterations (labels would be wrong, not "
        "approximate, so refusing to return them)"
    )


def q_dedup_clusters(documents: DataFrame) -> DataFrame:
    """Declared query: full near-dup clustering — MinHash-LSH candidate
    pairs → connected components → per-cluster summary (keeper = min
    doc_id, cluster size). Docs with no near-dup edge are singleton
    clusters of themselves.

    Declared over the PORTABLE minhash candidate pairs, so the full
    chain — LSH blocking, connected components, cluster summary — is
    differentially checked against a DuckDB oracle (portable md5
    candidates + a recursive-CTE reachability closure); component
    correctness is additionally pinned by graph-shape unit tests
    (chain / star / disjoint) in tests/.
    """
    documents = spread(documents)
    # connected_components cuts its edge input anyway: a postings cut
    # here would be a second sequential job (minhash_candidates says more)
    pairs = minhash_candidates(documents, portable=True, materialize=False)
    comps = connected_components(pairs)
    all_docs = documents.select("doc_id").join(
        comps, "doc_id", "left"
    ).select(
        "doc_id", F.coalesce("component_id", F.col("doc_id")).alias("component_id")
    )
    return (
        all_docs.groupBy("component_id")
        .agg(F.count("*").alias("cluster_size"), F.min("doc_id").alias("keeper_doc_id"))
        .orderBy("component_id")
    )


def simhash_band_postings_from_sigs(sigs: DataFrame) -> DataFrame:
    """(band, chunk, doc_id, sig) LSH postings from a (doc_id, sig)
    frame — the 4×16-bit band split of the 64-bit simhash (any pair
    within Hamming distance 3 shares ≥1 unchanged band, pigeonhole).
    The same banding expression q_dedup_simhash applies to distinct
    sigs inline; factored here so the incremental store
    (``streaming.dedup.simhash_applier``, probed by
    ``sources.dedup_store.dedup_simhash_delta``) persists candidates
    in exactly the batch form's shape."""
    return sigs.select(
        "doc_id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bb).alias("band"),
                        F.shiftright(F.col("sig"), bb * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("chunk"),
                    )
                    for bb in range(4)
                ]
            )
        ).alias("bb"),
    ).select(
        F.col("bb.band").alias("band"),
        F.col("bb.chunk").alias("chunk"),
        "doc_id",
        "sig",
    )


def q_fuzzy_match(
    customer: DataFrame,
    max_distance: int = 1,
    key_cap: int | None = None,
) -> DataFrame:
    """Fuzzy entity matching via FastSS deletion-neighborhood blocking
    (Bocek et al., "Fast Similarity Search in Large Dictionaries",
    2007) + exact Levenshtein verify — the
    entity-resolution tier of the dedup family: two strings within
    edit distance 1 always share a key in {s} ∪ {s minus one char},
    so candidates come from an equi-join on deletion keys — never an
    all-pairs distance scan — and the O(n²) verify runs only on
    colliding pairs.

    Hardening (TPC-H-style near-identical equal-length names are a
    near-worst case for deletion blocking):

    - the join key is ``(length(key), xxhash64(key))`` — an (int,
      long) pair instead of an ~L-char string, so the blocking
      shuffle moves ~12 bytes/posting regardless of name length; a
      64-bit hash collision can only ADD candidates (equal keys hash
      equal), and every added pair is killed by the exact Levenshtein
      verify, so the output is bit-identical to raw-key blocking.
    - only ``(c_custkey, slen, klen, khash)`` enters the self-join;
      names are joined back AFTER the DISTINCT pair set, so the wide
      string column is never exploded L+1 times through the shuffle
      and the DISTINCT state is two longs per pair.
    - ``|slen_a − slen_b| ≤ max_distance`` rides in the join
      predicate: true key-equal pairs always satisfy it (a shared
      deletion key forces lengths within 1), so it only prunes hash
      collisions — output-neutral.
    - ``key_cap`` (opt-in; default None = exact) drops postings for
      blocking keys shared by more than ``key_cap`` strings — the
      standard frequency-cap guard for adversarial key distributions
      where one non-discriminative key would emit a quadratic
      candidate set. A pair dropped at one hot key is still found
      via any other ≤cap shared key (FastSS emits L+1 keys per
      string), so recall degrades gracefully rather than the job
      dying; exactness requires the default. The declared oracle
      query runs with the exact default.

    Scale: n·(L+1) fixed-width postings, one (klen, khash)-equi
    self-join (plan-pinned never cartesian), DISTINCT on integer
    pairs, two int-keyed (auto-broadcast when small) name joins on
    the candidate set only, codegen levenshtein on candidates only.
    ``spread`` repairs single-file fixture parallelism for the key
    explode (no-op at scale).
    """
    customer = spread(customer)
    s = F.col("c_name")
    dels = F.transform(
        F.sequence(F.lit(1), F.length(s)),
        lambda i: F.concat(
            F.substr(s, F.lit(1), i - 1), F.substr(s, i + 1, F.length(s))
        ),
    )
    keyed = customer.select(
        "c_custkey",
        F.length(s).alias("slen"),
        F.explode(F.array_distinct(F.array_append(dels, s))).alias("key"),
    ).select(
        "c_custkey",
        "slen",
        F.length("key").alias("klen"),
        F.xxhash64("key").alias("khash"),
    )
    if key_cap is not None:
        hot = (
            keyed.groupBy("klen", "khash")
            .agg(F.count("*").alias("n_postings"))
            .filter(F.col("n_postings") > key_cap)
            .select("klen", "khash")
        )
        keyed = keyed.join(hot, ["klen", "khash"], "left_anti")
    # cut the deletion-key postings once — the self-join references
    # the frame on both sides, so the L+1-way explode + xxhash64 chain
    # ran twice (measured 2.20 → 1.90 s solo median at sf0.1).
    # Fixed-width ~20 B/posting at any scale (the point of the
    # (length, xxhash64) key).
    keyed = barrier.cut(keyed, "dedup.q_fuzzy_match")
    a, b = keyed.alias("a"), keyed.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.klen") == F.col("b.klen"))
            & (F.col("a.khash") == F.col("b.khash"))
            & (F.col("a.c_custkey") < F.col("b.c_custkey"))
            & (
                F.abs(F.col("a.slen") - F.col("b.slen"))
                <= F.lit(max_distance)
            ),
        )
        .select(
            F.col("a.c_custkey").alias("cust_a"),
            F.col("b.c_custkey").alias("cust_b"),
        )
        .distinct()
    )
    names = customer.select("c_custkey", "c_name")
    return (
        cand.join(
            names.select(
                F.col("c_custkey").alias("cust_a"), F.col("c_name").alias("name_a")
            ),
            "cust_a",
        )
        .join(
            names.select(
                F.col("c_custkey").alias("cust_b"), F.col("c_name").alias("name_b")
            ),
            "cust_b",
        )
        .select(
            "cust_a",
            "cust_b",
            "name_a",
            "name_b",
            F.levenshtein("name_a", "name_b").cast("bigint").alias("distance"),
        )
        .filter(F.col("distance") <= max_distance)
    )


def minhash_est_jaccard(a_prefix: str, b_prefix: str, num_hashes: int = 32):
    """Estimated Jaccard from two minhash signature row-halves: the
    fraction of agreeing minhashes (Broder 1997 — each minhash
    agrees with probability J, so the mean of 32 indicators is an
    unbiased estimate with σ ≈ 0.09). Signature-space verification is
    what lets an incremental near-dup probe VERIFY candidates without
    ever reading the accepted corpus's text."""
    agree = sum(
        F.when(
            F.col(f"{a_prefix}h{i}") == F.col(f"{b_prefix}h{i}"), 1
        ).otherwise(0)
        for i in range(num_hashes)
    )
    return F.round(agree / F.lit(float(num_hashes)), 6)


def minhash_near_dup_keepers(
    documents: DataFrame,
    threshold: float = 0.7,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """Batch near-dup KEEPER rule in signature space: a doc survives
    iff no LSH candidate pair links it to a smaller-doc_id doc with
    estimated Jaccard ≥ threshold. This is the batch twin of the
    incremental ingest stream (streaming/dedup.py) — both decide from
    the SAME signatures and the SAME banding, so stream == batch is
    testable end to end. Token-less docs (no signatures) pass
    through, mirroring minhash_signatures' exclusion.

    Scale: the signatures are cut once and banded from the cut (the
    text is hashed once), candidates from the band-bucket self-join
    (never all-pairs), signature re-join per side (32 longs/row),
    anti-join to drop losers."""
    sigs = barrier.cut(
        minhash_signatures(documents, num_hashes, shingle_n),
        "dedup.minhash_near_dup_keepers",
    )
    post = minhash_band_postings_from_sigs(sigs, num_hashes, bands)
    a, b = post.alias("a"), post.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("keep_id"), F.col("b.doc_id").alias("drop_id")
        )
        .distinct()
    )
    sa = sigs.select(
        F.col("doc_id").alias("keep_id"),
        *[F.col(f"h{i}").alias(f"a_h{i}") for i in range(num_hashes)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("drop_id"),
        *[F.col(f"h{i}").alias(f"b_h{i}") for i in range(num_hashes)],
    )
    losers = (
        cand.join(sa, "keep_id")
        .join(sb, "drop_id")
        .filter(minhash_est_jaccard("a_", "b_", num_hashes) >= threshold)
        .select(F.col("drop_id").alias("doc_id"))
        .distinct()
    )
    return documents.join(losers, "doc_id", "left_anti")
