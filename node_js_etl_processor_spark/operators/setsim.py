"""Exact set-similarity self-join via prefix filtering: all
pairs of DISTINCT token sets with Jaccard ≥ t, WITHOUT the all-pairs
scan — the AllPairs/PPJoin family (Bayardo, Ma & Srikant, "Scaling
Up All Pairs Similarity Search", WWW 2007; Xiao, Wang, Lin & Yu,
"Efficient Similarity Joins for Near Duplicate Detection", WWW 2008).

This closes a gap in the dedup family: minhash/simhash/SemDeDup are
PROBABILISTIC near-dup blockers; the prefix-filtered join is the
EXACT one. Three scale disciplines compose here:

1. **Exact-set collapse first.** Real crawl corpora (and the fixture)
   are template-heavy: thousands of documents share IDENTICAL token
   sets, so any pair-emitting join is quadratic in group sizes before
   it even starts. Stage 1 collapses identical sets in ONE groupBy on
   a 16-byte set digest (md5 of the sorted distinct tokens — linear,
   map-side-combinable) to a min-doc_id representative carrying its
   group size; the similarity join runs over the collapsed space
   only. Emitted pairs are pairs of DISTINCT sets (J < 1 strictly —
   J = 1 is the collapse, reported via group_n), and the fixture's
   35k identical-set pairs cost one aggregation instead of a join
   blow-up.
2. **Rare-first prefix filtering + the positional filter.** Order
   every representative's tokens by one global rarity order (document
   frequency asc, token asc), keep only the first
   |x| − ⌈t·|x|⌉ + 1 tokens (the prefix): any pair with Jaccard ≥ t
   MUST share a prefix token (the prefix-filtering lemma), so
   candidates come from a rare-token equi-join — the hot-token
   catastrophe ("every doc shares 'the'") is structurally avoided
   because maximal-df tokens sort LAST and never enter a multi-token
   prefix. PPJoin's POSITIONAL filter rides the same join predicate:
   a match at prefix positions (i, j) can contribute at most
   1 + min(|x|−i, |y|−j) overlap, so candidates that cannot reach
   the required ⌈t·(|x|+|y|)/(1+t)⌉ die inside the join, before any
   shuffle of pair rows.
3. **Bloom miss-count bound in the join.** Each representative
   carries a 64-bit one-hash Bloom fingerprint of its digest set;
   ``bit_count(bloom_a & ~bloom_b)`` LOWER-bounds |A \\ B| (distinct
   uncovered bits witness distinct missing tokens), so the join
   condition can require it ≤ the miss budget sza − ⌈t·(sza+szb)/
   (t_num+t_den)⌉ — lossless, two long bit-ops per pair, and at the
   19/20 threshold it kills near-miss candidates where the budget is
   0–1 misses: measured 960k → 27.5k candidates (−97%) at sf0.1 with
   identical output.
4. **Pigeonhole signature join at high thresholds.** At the
   declared t = 19/20 the candidate join itself is the bottleneck on
   hot-vocabulary corpora (the fixture has 31 distinct tokens, so
   token-equality posting lists are corpus-sized). A qualifying pair
   with min side sz has symmetric difference ≤ ⌊sz·(t_den−t_num)/
   t_num⌋, so hash-partitioning each digest set into one-more groups
   leaves ≥ 1 group with IDENTICAL membership (pigeonhole) — equal
   membership ⇒ equal XOR, and candidates come from an equi-join on
   (k, group_id, group_xor), a 64-bit content-bearing key. Lossless
   (PartEnum's partition level — Arasu, Ganti & Kaushik, VLDB 2006 —
   in banded-LSH form but deterministic); gated to t ≥ 9/10 where
   the signature volume stays O(s·d/t_num) per set; the prefix +
   positional path below keeps lower thresholds. Measured at sf0.1:
   q_setsim_join 2.86 → 1.66 s solo-median at identical output, with
   the df aggregation, join-back and per-doc rank window gone from
   the plan.
5. **Explosion-free verification.** Each representative's token set
   is packed ONCE as an array of 60-bit md5-derived digests (the
   dedup family's portable-hash discipline); candidates verify by
   joining the two digest arrays back (both rep frames broadcast)
   and counting ``array_intersect`` inside whole-stage codegen — one
   row per candidate, never |x|·posting-list blowup, and long
   equality instead of string hashing in the hot loop (measured ~4×
   on the sf0.1 sweep: 16 s → 3.8 s warm; the bloom bound takes
   the whole query 4.7 → ~2.3 s warm).

All thresholds are exact rationals (t = t_num/t_den) and every
emitted column is an integer (intersection/union/group sizes), so
the DuckDB oracle — the same collapse, then a brute-force token
self-join with NO prefix/positional filter, deliberately a different
algorithm, intersecting the SAME digest space — compares bit-for-bit
with no float rounding anywhere. The filtering's COMPLETENESS is
therefore cross-checked against an engine that never prunes.

Digest-collision fine print: a WITHIN-candidate collision is identical on
both sides and cancels; the one structure that is NOT covered is a
CROSS-token collision between a probe-only and a train-only token lifting a
pair's digest-space intersection over the threshold while the token-space
prefixes share nothing — there the engine (token-space candidates) and the
oracle (digest-space brute force) could diverge. That needs two distinct
~10-char tokens agreeing on 60 bits of md5 inside one candidate corpus:
~2⁻⁶⁰ per token pair, below the md5 set-digest collision risk the collapse
itself already accepts. Both operators' exactness claims are therefore
'exact in the 60-bit digest space, with token-space candidate generation
whose completeness margin exceeds the digest space's own collision budget'.

Parity note: the reference engine (reference server.js:1-301) has no
similarity-join surface; this extends SURVEY.md §2b's dedup family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from node_js_etl_processor_spark.functions import barrier
from node_js_etl_processor_spark.operators.spans import token_array

#: declared threshold: Jaccard >= 19/20 (exact rational — floats
#: never enter the prefix/length/verify arithmetic)
SETSIM_T_NUM, SETSIM_T_DEN = 19, 20


def _tok_digest(col):
    """60-bit md5-derived token digest (the dedup family's portable
    hash discipline: both engines compute the same 15 hex chars, so
    any collision is IDENTICAL on both sides and parity is unharmed).
    Verification intersects LONG arrays instead of string arrays —
    same semantics in the digest space, several times cheaper per
    candidate."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def packed_sets(documents: DataFrame) -> DataFrame:
    """One row per document: (doc_id, toks sorted array, set_key,
    sz). Tokens are the repo's established parity form (lowercase,
    whitespace split, empties dropped — the exact expression
    q_tfidf's oracle already pins), DISTINCT per document.

    ZERO shuffles: the per-document distinct sorted
    token set is a pure row-local expression —
    ``array_sort(array_distinct(filter(split(...))))`` — so the whole
    stage is one narrow projection inside codegen. The previous form
    (explode → groupBy(doc_id) → collect_set) materialized every
    token instance as a row and paid a corpus exchange for a
    per-document property; measured 0.78 → 0.41 s warm at sf0.1 with
    bit-identical output (array_sort orders strings exactly as
    sort_array does — same engine, same UTF-16 comparator). The
    digest (md5 over the sorted tokens, newline-joined) keeps the
    collapse shuffle at 16 bytes/doc. The digest need only be
    deterministic and injective per token set WITHIN each engine —
    the collapse equality classes it induces are sort-order-
    invariant, and the oracle never compares digest values across
    engines. (Cross-engine byte-order agreement does NOT hold in
    general: Spark compares strings by UTF-16 code units, DuckDB by
    UTF-8 bytes, and the two orders diverge for supplementary-plane
    code points.)"""
    return (
        documents.select(
            "doc_id",
            # token_array is the span family's single tokenization
            # definition
            F.array_sort(F.array_distinct(token_array())).alias("toks"),
        )
        .withColumn("set_key", F.md5(F.concat_ws("\n", F.col("toks"))))
        .withColumn("sz", F.size("toks").cast("bigint"))
        # zero-token documents have no token SET: the old explode →
        # groupBy form dropped them structurally (explode of [] emits
        # no rows), and the containment contract + its oracle exclude
        # them — keep the row-local form semantics IDENTICAL
        .filter(F.col("sz") > 0)
    )


def exact_set_reps(sets: DataFrame) -> DataFrame:
    """Collapse identical token sets: one row per DISTINCT set —
    (set_key, doc_id = min-doc_id representative, group_n = how many
    documents carry exactly this set)."""
    return sets.groupBy("set_key").agg(
        F.min("doc_id").alias("doc_id"),
        F.count("*").cast("bigint").alias("group_n"),
    )


#: 64-bit one-hash Bloom fingerprint of a digest array — bit
#: ``h % 64`` per token. The LOSSLESS prune it supports:
#: every bit set in A's bloom but absent from B's is a bit some
#: token of A maps to that NO token of B does, and DISTINCT such
#: bits witness DISTINCT missing tokens, so
#: ``bit_count(bloom_a & ~bloom_b) ≤ |A \ B|`` — a lower bound on
#: the misses that rides the candidate join as two long bit-ops per
#: pair (the bitmap-filter idea from the set-similarity literature,
#: e.g. Mann, Augsten & Bouros, VLDB 2016's filter study, in
#: 64-bit-register form).
_BLOOM_EXPR = (
    "aggregate(toks_h, CAST(0 AS BIGINT),"
    " (acc, h) -> acc | shiftleft(CAST(1 AS BIGINT), CAST(h % 64 AS INT)))"
)


def _pack_reps(sets: DataFrame) -> DataFrame:
    """Collapse a ``packed_sets`` frame to its representatives: one
    CHECKPOINTED row per distinct token set — (doc_id = min-id
    representative, toks sorted token array, toks_h digest array,
    bloom 64-bit fingerprint, sz, group_n). The shared stage both the
    symmetric join and the containment decon build on.

    ONE aggregation, no join-back: within a ``set_key`` group
    every row carries the IDENTICAL sorted ``toks`` array (the key is
    its digest), so ``first(toks)`` is deterministic-by-value and the
    old groupBy + re-join against the sets frame collapsed into a
    single keyed exchange."""
    return barrier.cut(
        sets.groupBy("set_key")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count("*").cast("bigint").alias("group_n"),
            F.first("toks").alias("toks"),
        )
        .select(
            "doc_id",
            "toks",
            F.transform("toks", _tok_digest).alias("toks_h"),
            F.size("toks").cast("bigint").alias("sz"),
            "group_n",
        )
        .withColumn("bloom", F.expr(_BLOOM_EXPR)),
        "setsim.pack_reps",
    )


def _rep_sets(documents: DataFrame) -> DataFrame:
    """Tokenize + collapse + pack: ``_pack_reps(packed_sets(docs))``."""
    return _pack_reps(packed_sets(documents))


def _prefix_len(t_num: int, t_den: int, sz=None):
    """Prefix size |x| − ⌈t·|x|⌉ + 1 as a Column over ``sz`` (default
    the plain ``sz`` column; pass an aliased column in self-joins) —
    integer ceil via (t_num·sz + t_den − 1) div t_den (values stay
    far below 2^53, so the double floor is exact; everything compared
    afterwards is integer)."""
    sz = F.col("sz") if sz is None else sz
    return sz - F.floor((sz * t_num + (t_den - 1)) / t_den).cast(
        "long"
    ) + F.lit(1)


#: per-set size ceiling for the pigeonhole signature path. Frames whose
#: largest set exceeds ``_SIG_EXPR_MAX_SZ`` enumerate via the
#: hash-aggregated stream (``_signature_rows``) — no single-row array
#: materialization and no per-(k, gid) rescan, so the ~10 MB /
#: ~10⁹-element-op per-row cliffs of a per-row enumeration are gone from the
#: large-set regime where they lived — and the cap now bounds the total
#: SIGNATURE VOLUME a set fans out into the candidate join: Σ_{k∈K(s)} k ≈
#: O(s²·d²/(t_num·t_den)) rows per set, ~130k at the cap and t = 19/20.
#: Beyond it the prefix path's O(s)-rows-per-set generation wins regardless
#: of vocabulary shape, so the whole-frame routing keeps the cap (same risk
#: class as the forced-broadcast rejection in _verify_candidates).
PIGEONHOLE_MAX_SZ = 20_000


def _size_canonical():
    """Size-canonical orientation for the a/b-aliased self-joins:
    the index side a is the smaller set, ties by doc_id — shared by
    BOTH candidate generators so the lemma-side conventions cannot
    drift."""
    return (F.col("a.sz") < F.col("b.sz")) | (
        (F.col("a.sz") == F.col("b.sz"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
    )


def _length_ok(t_num: int, t_den: int):
    """PPJoin length filter over the a/b aliases: J ≥ t forces
    t·max ≤ min."""
    return (
        F.greatest(F.col("a.sz"), F.col("b.sz")) * t_num
        <= F.least(F.col("a.sz"), F.col("b.sz")) * t_den
    )


def _bloom_ok(t_num: int, t_den: int):
    """Bloom miss-count bound over the a/b aliases (lossless —
    see _BLOOM_EXPR): a qualifying pair needs overlap
    r = ⌈t·(sza+szb)/(t_num+t_den)⌉, i.e. at most sza − r misses on
    a's side (szb − r on b's); the 64-bit fingerprints LOWER-bound
    the misses with two long bit-ops per pair. One definition for
    both candidate paths — the arithmetic is completeness-critical
    and must stay in lockstep."""
    ssum = F.col("a.sz") + F.col("b.sz")
    req_overlap = F.floor(
        (ssum * t_num + (t_num + t_den - 1)) / (t_num + t_den)
    ).cast("long")
    return (
        F.expr("bit_count(a.bloom & ~b.bloom)").cast("long")
        <= F.col("a.sz") - req_overlap
    ) & (
        F.expr("bit_count(b.bloom & ~a.bloom)").cast("long")
        <= F.col("b.sz") - req_overlap
    )


def _canonical_pair():
    """The (doc_a < doc_b)-oriented output struct over the a/b
    aliases, sizes and group counts swapped with the ids — the one
    definition both candidate generators emit."""
    return F.when(
        F.col("a.doc_id") < F.col("b.doc_id"),
        F.struct(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
            F.col("a.group_n").alias("group_a"),
            F.col("b.group_n").alias("group_b"),
        ),
    ).otherwise(
        F.struct(
            F.col("b.doc_id").alias("doc_a"),
            F.col("a.doc_id").alias("doc_b"),
            F.col("b.sz").alias("sz_a"),
            F.col("a.sz").alias("sz_b"),
            F.col("b.group_n").alias("group_a"),
            F.col("a.group_n").alias("group_b"),
        )
    )


#: whole-frame routing threshold between the two signature builders:
#: frames whose LARGEST set is at most this take the projection-only
#: expression enumeration (``_signature_rows_expr`` — zero shuffles,
#: the right fixed-cost shape for small-vocabulary corpora like the
#: sf fixtures, but per-set compute O(Σ_k k·s) ~ s³-ish), larger
#: frames take the hash-aggregated builder (``_signature_rows`` —
#: two small shuffles of fixed overhead, compute linear in the
#: signature stream; measured 69.7 → 2.4 s at s = 10k and 479 → 3.9 s
#: at the 20k cap, identical output). At the threshold the expression
#: path costs ≈ 10 ms/set worst-gate — both routes are comfortably
#: flat at the crossover, so the exact value is a constants choice.
_SIG_EXPR_MAX_SZ = 1_000


def _signature_rows_expr(
    rep_sets: DataFrame, lo_sql: str, hi_sql: str
) -> DataFrame:
    """Projection-only signature enumeration — identical rows to
    ``_signature_rows`` (identity test-pinned), built as one flatten
    expression per set with a per-(k, gid) ``filter`` scan. Zero shuffles,
    so it wins on fixed cost when every set is small; the per-set compute
    grows ~ s³ near the size cap, which is why ``_pigeonhole_candidates``
    routes frames by their largest set (``_SIG_EXPR_MAX_SZ``)."""
    sig_expr = f"""
      flatten(transform(
        sequence({lo_sql}, {hi_sql}),
        k -> transform(
          sequence(CAST(0 AS BIGINT), k - 1),
          g -> named_struct(
            'k', k, 'gid', g,
            'gdig', aggregate(
              filter(toks_h, h -> h % k = g),
              CAST(0 AS BIGINT), (acc, h) -> acc ^ h)))))
    """
    return rep_sets.select(
        "doc_id",
        "sz",
        "group_n",
        "bloom",
        F.explode(F.expr(sig_expr)).alias("s"),
    ).select("doc_id", "sz", "group_n", "bloom", "s.k", "s.gid", "s.gdig")


def _signature_rows(
    rep_sets: DataFrame, lo_sql: str, hi_sql: str
) -> DataFrame:
    """(doc_id, sz, group_n, bloom, k, gid, gdig) for every k in
    [``lo_sql``, ``hi_sql``] (Column SQL over ``sz``) and every group
    id 0..k−1 — INCLUDING empty groups (digest 0), which are
    completeness-critical: the pigeonhole lemma's guaranteed
    identical group may hold no tokens at all on either side, and
    the equi-join must still see it agree (0 = 0).

    Group digests come from ONE
    hash-aggregated pass over the exploded (k, token-digest) stream —
    O(s·|k-range|) element operations per set, map-side combined
    before any shuffle since a set's tokens start in one row —
    instead of the old per-(k, gid) ``filter(toks_h, ...)`` scan
    inside a single row's flatten expression, whose compute went
    cubic-ish near the size cap (~10⁹ element operations for ONE
    20k-token set at t = 19/20 — a per-row latency cliff inside the
    gated-safe region). Empty groups are reconstructed per (doc, k)
    from the k-slot grid minus the aggregated gids; token digests
    are 60-bit nonnegative (``_tok_digest``), so ``h % k`` always
    lands in [0, k) and every (doc, k) keeps at least one aggregated
    row (empty SETS are filtered out upstream by ``packed_sets``).
    Output rows are identical to ``_signature_rows_expr``'s, set for
    set (identity test-pinned on randomized corpora)."""
    tok = rep_sets.select(
        "doc_id",
        "sz",
        "group_n",
        "bloom",
        F.explode(F.expr(f"sequence({lo_sql}, {hi_sql})")).alias("k"),
        F.col("toks_h"),
    ).select(
        "doc_id",
        "sz",
        "group_n",
        "bloom",
        "k",
        F.explode("toks_h").alias("h"),
    )
    per_gid = tok.groupBy(
        "doc_id", "k", F.expr("h % k").alias("gid")
    ).agg(
        F.expr("bit_xor(h)").alias("gdig"),
        F.first("sz").alias("sz"),
        F.first("group_n").alias("group_n"),
        F.first("bloom").alias("bloom"),
    )
    per_k = per_gid.groupBy("doc_id", "k").agg(
        F.first("sz").alias("sz"),
        F.first("group_n").alias("group_n"),
        F.first("bloom").alias("bloom"),
        F.collect_list(F.struct("gid", "gdig")).alias("ne"),
    )
    return per_k.select(
        "doc_id",
        "sz",
        "group_n",
        "bloom",
        "k",
        F.explode(
            F.expr(
                "concat(ne, transform("
                " array_except(sequence(CAST(0 AS BIGINT), k - 1),"
                "              transform(ne, x -> x.gid)),"
                " g -> named_struct('gid', g,"
                "                   'gdig', CAST(0 AS BIGINT))))"
            )
        ).alias("s"),
    ).select(
        "doc_id",
        "sz",
        "group_n",
        "bloom",
        "k",
        F.col("s.gid").alias("gid"),
        F.col("s.gdig").alias("gdig"),
    )


def _pigeonhole_candidates(
    rep_sets: DataFrame,
    t_num: int,
    t_den: int,
    max_sz: "int | None" = None,
) -> DataFrame:
    """Candidate pairs via the LOSSLESS pigeonhole signature join —
    an 'LSH prefilter' for HIGH thresholds (the PartEnum /
    partition-signature idea: Arasu, Ganti & Kaushik, "Efficient
    Exact Set-Similarity Joins", VLDB 2006, partition level; banded
    like LSH but deterministic, so completeness is a lemma, not a
    probability).

    Lemma (all-integer): for a qualifying pair with sa = |A| ≤ |B| =
    sb, J ≥ t = t_num/t_den forces inter ≥ r = ⌈t_num(sa+sb)/
    (t_num+t_den)⌉, so the symmetric difference m = sa+sb−2·inter ≤
    (sa+sb)(t_den−t_num)/(t_num+t_den) ≤ sa·(t_den−t_num)/t_num
    (the second step uses the length filter sb ≤ sa·t_den/t_num).
    With k(s) = ⌊s·(t_den−t_num)/t_num⌋ + 1 groups, k(sa) > m, so
    hash-partitioning each set's token digests by ``h % k(sa)``
    leaves AT LEAST ONE group whose membership is identical in A and
    B — equal membership ⇒ equal XOR — and the pair survives an
    equi-join on (k, group_id, group_xor). Candidates therefore come
    from a 64-bit content-bearing join key instead of single-token
    equality: on template-heavy corpora with a small hot vocabulary
    the token equi-join's posting lists are corpus-sized (the sf0.1
    fixture has 31 distinct tokens — Σ df² candidate pairs), while
    group-XOR equality is selective exactly where Jaccard is not met.

    Asymmetric probe/index roles keep the blow-up bounded: the probe side
    keeps ONLY its own k(sz) rows (a qualifying pair must match at
    k(min-side sz), and the probe is the min side under the size-canonical
    order), while the index side emits one signature row per group for EVERY
    k a smaller qualifying partner could demand — k ∈ [k(⌈t·s⌉), k(s)], an
    integer range because k(·) is nondecreasing. Per-set signature volume is
    Σ_{k∈range} k rows; enumeration COMPUTE is O(s·|range|) element ops via
    the ``_signature_rows`` hash-aggregated builder (a per-(k, gid) filter
    rescan would pay an extra factor of s near the cap) — economical for
    d/t_num ≤ 1/9, which is what the caller gates on. False positives (XOR
    collisions, empty-group agreements) are killed by the unchanged
    array-intersect verify; the brute-force DuckDB oracle cross-checks
    completeness pair for pair. The length filter and the bloom miss-count
    bound ride the join condition exactly as on the prefix path."""
    d = t_den - t_num
    lo_sql = f"((sz * {t_num} + {t_den - 1}) div {t_den}) * {d} div {t_num} + 1"
    hi_sql = f"sz * {d} div {t_num} + 1"
    # whole-frame builder routing on the corpus's largest set
    # (``max_sz`` is a routing HINT only — both builders emit
    # identical rows, so correctness never depends on it; the caller
    # passes the max it already probed, direct/test callers may omit
    # it and pay one tiny aggregation)
    if max_sz is None:
        max_sz = rep_sets.agg(F.max("sz")).first()[0] or 0
    build = (
        _signature_rows_expr
        if max_sz <= _SIG_EXPR_MAX_SZ
        else _signature_rows
    )
    sig = build(rep_sets, lo_sql, hi_sql)
    # the PROBE side needs only its own k(sz) partition (a qualifying
    # pair must match at k(min-side sz), and the probe is the min
    # side under the size-canonical order): same builder, degenerate
    # k-range [k(sz), k(sz)].
    probe = build(rep_sets, hi_sql, hi_sql)
    a, b = probe.alias("a"), sig.alias("b")
    return (
        a.join(
            b,
            (F.col("a.k") == F.col("b.k"))
            & (F.col("a.gid") == F.col("b.gid"))
            & (F.col("a.gdig") == F.col("b.gdig"))
            & (F.col("a.doc_id") != F.col("b.doc_id"))
            & _size_canonical()
            & _length_ok(t_num, t_den)
            & _bloom_ok(t_num, t_den),
        )
        .select(_canonical_pair().alias("p"))
        .select("p.*")
        # a near-identical pair agrees in ~k−m of its k groups, so the
        # join emits ~k rows per true pair — dedup BEFORE the verify
        # joins (the frame is candidate-sized, the shuffle is tiny)
        .distinct()
    )


def setsim_join(
    documents: DataFrame,
    t_num: int = SETSIM_T_NUM,
    t_den: int = SETSIM_T_DEN,
    pigeonhole_max_sz: int = PIGEONHOLE_MAX_SZ,
) -> DataFrame:
    """All pairs of DISTINCT token sets (via their min-doc_id
    representatives, doc_a < doc_b) with Jaccard ≥ t_num/t_den, as
    (doc_a, doc_b, inter, union_sz, group_a, group_b) — exact. See
    the module docstring for the three-stage shape (collapse →
    candidate join → array-intersect verify).

    Candidate generation is gated on the threshold AND the corpus's
    largest set: at t ≥ 9/10 with max sz ≤ pigeonhole_max_sz
    the pigeonhole signature join (``_pigeonhole_candidates``)
    replaces the rare-first prefix equi-join — same completeness
    guarantee, but candidates come from a 64-bit group-XOR key
    instead of token equality, which removes the df/rank machinery
    (one corpus groupBy + join-back + per-doc window) and the
    hot-token posting-list join entirely. Below 9/10 the signature
    volume grows as s·d/t_num per set; above the size cap a single
    set's enumeration array goes quadratic (PIGEONHOLE_MAX_SZ note),
    and both routes fall back to the proven prefix + positional +
    bloom path. The max-sz probe is one tiny aggregation over the
    already-checkpointed rep frame, and it must be whole-frame —
    per-set routing would lose pairs that span the two paths.

    group_a·group_b is the number of ORIGINAL document pairs each
    emitted row stands for — the quadratic blow-up the collapse
    avoided, still fully reconstructible from the output."""
    if not (0 < t_num <= t_den):
        raise ValueError("setsim_join needs 0 < t_num/t_den <= 1")
    rep_sets = _rep_sets(documents)
    use_pigeonhole = 10 * t_num >= 9 * t_den
    mx = 0
    if use_pigeonhole:
        mx = rep_sets.agg(F.max("sz")).first()[0] or 0
        use_pigeonhole = mx <= pigeonhole_max_sz
    if use_pigeonhole:
        cand = _pigeonhole_candidates(rep_sets, t_num, t_den, max_sz=mx)
    else:
        cand = _prefix_candidates(rep_sets, t_num, t_den)
    return _verify_candidates(rep_sets, cand, t_num, t_den)


def _prefix_candidates(
    rep_sets: DataFrame, t_num: int, t_den: int
) -> DataFrame:
    """Candidate pairs via the rare-first prefix equi-join with the
    positional, length and bloom filters in the join condition — the
    PPJoin path (module docstring §2–3), used below the pigeonhole
    gate."""
    rtok = rep_sets.select(
        "doc_id", "sz", "group_n", "bloom", F.explode("toks").alias("token")
    )
    df_tok = rtok.groupBy("token").agg(
        F.count("*").cast("bigint").alias("df")
    )
    ranked = rtok.join(df_tok, "token").withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy("doc_id").orderBy(
                F.col("df").asc(), F.col("token").asc()
            )
        ),
    )
    # The prefix frame carries each representative's
    # 64-bit bloom fingerprint (one long, projected straight through
    # rtok — NOT an extra join), so the lossless
    # miss-count bound can ride the candidate join.
    prefix = ranked.filter(F.col("rank") <= _prefix_len(t_num, t_den)).select(
        "doc_id", "token", "rank", "sz", "group_n", "bloom"
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    # asymmetric probe/index prefixes (Xiao et al. 2008 §3): process
    # pairs in size-canonical order (index side a = smaller set, ties
    # by doc_id). The minimum common element w of a qualifying pair
    # lies in BOTH the probe prefix of b (|b| − ⌈t·|b|⌉ + 1, the base
    # frame) and the shorter INDEX prefix of a
    # (|a| − ⌈2t/(1+t)·|a|⌉ + 1 — since |b| ≥ |a|, the required
    # overlap α ≥ ⌈2t/(1+t)·|a|⌉, and prefixes are downward-closed),
    # so the equi-join stays complete while the index side shrinks to
    # ~1 token at t = 19/20. Integer ceil, as everywhere.
    index_prefix_ok = F.col("a.rank") <= _prefix_len(
        2 * t_num, t_num + t_den, F.col("a.sz")
    )
    # positional filter: a shared prefix token at positions (i, j)
    # bounds the overlap by 1 + min(sx-i, sy-j); J >= t needs overlap
    # * (t_num+t_den) >= t_num * (sx+sy) — integer form of the PPJoin
    # bound, output-neutral (necessary condition only)
    positional_ok = (
        F.lit(1)
        + F.least(
            F.col("a.sz") - F.col("a.rank"), F.col("b.sz") - F.col("b.rank")
        )
    ) * (t_num + t_den) >= t_num * (F.col("a.sz") + F.col("b.sz"))
    # size-canonical order, length filter, bloom miss-count bound and
    # the canonical pair struct are the SHARED helpers — one
    # definition for both candidate paths (the bloom bound's measured
    # effect here: 960k → 27.5k candidates, −97%, at sf0.1 with
    # identical output).
    return (
        a.join(
            b,
            (F.col("a.token") == F.col("b.token"))
            & (F.col("a.doc_id") != F.col("b.doc_id"))
            & _size_canonical()
            & index_prefix_ok
            & _length_ok(t_num, t_den)
            & positional_ok
            & _bloom_ok(t_num, t_den),
        )
        .select(_canonical_pair().alias("p"))
        .select("p.*")
    )


def _verify_candidates(
    rep_sets: DataFrame, cand: DataFrame, t_num: int, t_den: int
) -> DataFrame:
    """Verify candidate pairs WITHOUT row explosion: join each side's
    packed array back and count the intersection inside codegen — one
    row per candidate. NO forced broadcast: the rep frames are
    corpus-of-distinct-sets-sized, so AQE must stay free to pick
    shuffle vs broadcast by measured size (a forced
    broadcast would hit Spark's broadcast-table limit at the 100 TB
    design point). Duplicate candidates (a pair surviving via several
    prefix tokens) verify identically and collapse in the final
    distinct, which runs on the THRESHOLD-FILTERED (small) frame."""
    arr_a = rep_sets.select(
        F.col("doc_id").alias("doc_a"), F.col("toks_h").alias("toks_a")
    )
    arr_b = rep_sets.select(
        F.col("doc_id").alias("doc_b"), F.col("toks_h").alias("toks_b")
    )
    verified = (
        cand.join(arr_a, "doc_a")
        .join(arr_b, "doc_b")
        .withColumn(
            "inter",
            F.size(F.array_intersect("toks_a", "toks_b")).cast("bigint"),
        )
        .withColumn(
            "union_sz",
            (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("bigint"),
        )
        .filter(F.col("inter") * t_den >= F.col("union_sz") * t_num)
    )
    return verified.select(
        "doc_a", "doc_b", "inter", "union_sz", "group_a", "group_b"
    ).distinct()


def q_setsim_join(documents: DataFrame) -> DataFrame:
    """Declared query: the exact set-similarity self-join at
    Jaccard ≥ 19/20 — ``setsim_join`` over the documents fixture
    (exact-set collapse, then the prefix+positional-filtered join
    over distinct sets, array-intersect verify). The DuckDB oracle
    replays the collapse and then runs the BRUTE-FORCE token
    self-join (no prefix, no positional, no length filter), so the
    filters' completeness — the published lemmas this operator rides
    — is cross-checked pair for pair, and every column is an integer
    so the compare is exact."""
    return setsim_join(documents).orderBy("doc_a", "doc_b")


def containment_decon(
    probes: DataFrame,
    train: DataFrame,
    c_num: int = SETSIM_T_NUM,
    c_den: int = SETSIM_T_DEN,
) -> DataFrame:
    """Per-PROBE containment summary against a training corpus — the
    decontamination form of the similarity join: an eval item whose
    token set is ≥ c contained in some training document
    (|A∩B| ≥ ⌈c·|A|⌉) is contaminated, and what a 100 TB pipeline
    needs per eval item is the AGGREGATE (is it contained anywhere,
    how often, earliest offender), never the dense pair list — on a
    templated corpus the pair count is quadratic (measured 30k+
    full-containment rep pairs at sf0.1) while this output is one row
    per probe representative.

    Same machinery as ``setsim_join``, asymmetric: both sides
    collapse to exact-set representatives; each probe keeps only its
    first |A| − ⌈c·|A|⌉ + 1 tokens in the TRAIN-side rarity order
    (a train set with overlap ≥ ⌈c·|A|⌉ must share one of them —
    the asymmetric prefix lemma: missing all of them caps the
    overlap at ⌈c·|A|⌉ − 1; tokens absent from train sort FIRST with
    df 0, maximally selective); candidates probe the train postings
    of those rare tokens only, and verify by digest-array
    intersection. Emits EVERY probe rep with a nonempty token set
    (n_contaminated = 0 rows included — the gate needs the clean list
    too): (probe_id, sz, group_n, n_contaminated, first_hit). A probe
    whose text tokenizes to ZERO tokens has no token set and is
    excluded (containment of the empty set is vacuously true in
    every document, so neither 'clean' nor 'contaminated' is an
    honest answer) — the oracle excludes it identically."""
    if not (0 < c_num <= c_den):
        raise ValueError("containment_decon needs 0 < c_num/c_den <= 1")
    return _containment_from_reps(
        _rep_sets(probes), _rep_sets(train), c_num, c_den
    )


def _containment_from_reps(
    p_reps: DataFrame, t_reps: DataFrame, c_num: int, c_den: int
) -> DataFrame:
    """``containment_decon`` from pre-packed representative frames —
    the split point that lets a caller holding ONE corpus tokenize it
    once and route slices to both sides (``q_containment_decon``)."""
    t_tok = t_reps.select(
        "doc_id",
        F.col("sz").alias("sz_t"),
        F.col("bloom").alias("bloom_t"),
        F.explode("toks").alias("token"),
    )
    t_df = t_tok.groupBy("token").agg(
        F.count("*").cast("bigint").alias("df")
    )
    # probe tokens in TRAIN-df order (absent-from-train tokens get df
    # 0 and sort first — maximally selective)
    p_tokens = (
        p_reps.select(
            "doc_id",
            "sz",
            F.col("bloom").alias("bloom_p"),
            F.explode("toks").alias("token"),
        )
        .join(t_df, "token", "left")
        .withColumn("df", F.coalesce(F.col("df"), F.lit(0)))
        .withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy(
                    F.col("df").asc(), F.col("token").asc()
                )
            ),
        )
    )
    # bloom_p rides the projection from p_reps (no extra join)
    p_prefix = p_tokens.filter(F.col("rank") <= _prefix_len(c_num, c_den)).select(
        F.col("doc_id").alias("probe_id"), "token", "sz", "bloom_p"
    )
    # distinct BEFORE verify: measured faster than verifying raw
    # duplicates + countDistinct in the aggregate (5.3 s vs 6.9 s per
    # bench-shaped run at sf0.1) — the dedup shuffle pays for itself
    # by shrinking the array-intersect frame.
    # Length filter IN the candidate join (the asymmetric form of
    # the PPJoin length filter): |A∩B| ≤ |B|, so a train set with
    # sz_t·den < sz·num can never reach ⌈c·|A|⌉ overlap — lossless,
    # and it prunes a measured 42% of candidates at sf0.1 BEFORE the
    # distinct shuffle and the digest-array verify.
    # Bloom miss-count bound (lossless — see _BLOOM_EXPR), the
    # asymmetric form: containment needs overlap ⌈c·|A|⌉, i.e. at
    # most |A| − ⌈c·|A|⌉ probe tokens may miss the train set, and
    # bit_count(bloom_p & ~bloom_t) lower-bounds the misses — two
    # long bit-ops per candidate, applied with the length filter
    # BEFORE the distinct shuffle and the digest-array verify.
    req_c = F.floor(
        (F.col("sz") * c_num + (c_den - 1)) / c_den
    ).cast("long")
    bloom_ok = (
        F.expr("bit_count(bloom_p & ~bloom_t)").cast("long")
        <= F.col("sz") - req_c
    )
    cand = (
        p_prefix.join(
            t_tok.select(
                F.col("doc_id").alias("train_id"), "sz_t", "bloom_t", "token"
            ),
            "token",
        )
        .filter((F.col("sz_t") * c_den >= F.col("sz") * c_num) & bloom_ok)
        .select("probe_id", "train_id")
        .distinct()
    )
    verified = (
        cand.join(
            p_reps.select(
                F.col("doc_id").alias("probe_id"),
                F.col("toks_h").alias("toks_p"),
                F.col("sz").alias("sz_p"),
            ),
            "probe_id",
        )
        .join(
            t_reps.select(
                F.col("doc_id").alias("train_id"),
                F.col("toks_h").alias("toks_t"),
            ),
            "train_id",
        )
        .withColumn(
            "inter",
            F.size(F.array_intersect("toks_p", "toks_t")).cast("bigint"),
        )
        .filter(F.col("inter") * c_den >= F.col("sz_p") * c_num)
    )
    hits = verified.groupBy("probe_id").agg(
        F.count("*").cast("bigint").alias("n_contaminated"),
        F.min("train_id").cast("bigint").alias("first_hit"),
    )
    return (
        p_reps.select(
            F.col("doc_id").alias("probe_id"), "sz", "group_n"
        )
        .join(hits, "probe_id", "left")
        .select(
            "probe_id",
            "sz",
            "group_n",
            F.coalesce(F.col("n_contaminated"), F.lit(0))
            .cast("bigint")
            .alias("n_contaminated"),
            "first_hit",
        )
    )


def q_containment_decon(documents: DataFrame) -> DataFrame:
    """Declared query: containment decontamination at c ≥ 19/20 —
    ``containment_decon`` with the documents fixture split into an
    eval slice (doc_id % 10 == 0, the probes) and a training corpus
    (the rest). One row per probe representative, contaminated or
    not. The DuckDB oracle replays both collapses, then BRUTE-FORCES
    the probe×train token join with NO prefix filter and aggregates
    identically — the asymmetric prefix lemma's completeness is
    cross-checked probe for probe, and every output column is an
    integer (first_hit NULL on clean probes). The corpus tokenizes
    once AND collapses once: a single (side, set_key)
    aggregation packs BOTH sides' representatives in one keyed
    exchange and one checkpoint — collapsing per side is preserved
    exactly (a probe and a train document with identical token sets
    are distinct representatives, which is why the side is part of
    the grouping key), replacing the former two _pack_reps passes
    (two exchanges + two materializations) over the same sets
    frame."""
    tagged = packed_sets(documents).withColumn(
        "side", F.col("doc_id") % 10 == 0
    )
    reps = barrier.cut(
        tagged.groupBy("side", "set_key")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count("*").cast("bigint").alias("group_n"),
            F.first("toks").alias("toks"),
        )
        .select(
            "side",
            "doc_id",
            "toks",
            F.transform("toks", _tok_digest).alias("toks_h"),
            F.size("toks").cast("bigint").alias("sz"),
            "group_n",
        )
        .withColumn("bloom", F.expr(_BLOOM_EXPR)),
        "setsim.q_containment_decon",
    )
    return _containment_from_reps(
        reps.filter(F.col("side")).drop("side"),
        reps.filter(~F.col("side")).drop("side"),
        SETSIM_T_NUM,
        SETSIM_T_DEN,
    ).orderBy("probe_id")
