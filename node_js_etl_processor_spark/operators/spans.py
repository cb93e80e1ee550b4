"""ExactSubstr-style duplicate-SPAN extraction: find every
maximal token-index extent of a document that is covered by w-token
shingles occurring ≥ 2 times in the corpus — the span-level
deduplication signal of Lee, Ippolito, Nystrom, Zhang, Eck,
Callison-Burch & Carlini, ACL 2022, "Deduplicating Training Data
Makes Language Models Better" (§4.1 EXACTSUBSTR), re-expressed
relationally: their suffix-array substring scan becomes a w-token
shingle posting pass + a gaps-and-islands merge, which a DataFrame
engine executes as two linear keyed exchanges instead of a global
suffix sort.

This upgrades the engine's span story from q_span_dedup's 5-token
proxy (operators/text.py) to REAL extent extraction: the output is
not "docs sharing a shingle" but the merged [start, end) token
extents per document, with the duplicated-shingle count per extent —
exactly what a curation pipeline cuts or down-weights. Width default
25: Lee et al. use 50 BPE tokens against web documents; the fixture
corpus' median document is ~55 whitespace tokens, so half the median
keeps the same "run must be a substantial fraction of a document"
geometry (the parameter is explicit everywhere and the oracle
interpolates the same constant).

Semantics (per width w):
  * tokens: the corpus parity form — lowercase, whitespace-split,
    empties dropped — POSITIONAL (duplicates kept, order kept),
    unlike the set-similarity family's distinct sets;
  * shingle at position i (1-based): tokens[i .. i+w-1], hashed as
    the first 15 hex chars of md5 over the newline-joined tokens
    packed into a BIGINT (the dedup family's 60-bit portable-digest
    discipline — an 8-byte shuffle key instead of a 32-char hex
    VARCHAR on the corpus-sized exchange; a 60-bit collision merges
    two duplication classes with probability ~n²/2⁶¹, the same budget
    every other digest-keyed operator here accepts);
  * a position is DUPLICATED if its shingle hash occurs ≥ 2 times
    corpus-wide — across documents or within one (self-repetition is
    duplication too, as in the paper);
  * per document, duplicated positions open intervals [i, i+w) over
    token indices; overlapping OR touching intervals merge into
    maximal islands (the operators/intervals.py sweep-line
    convention: a new island opens only when start strictly exceeds
    the running max end).

Output: (doc_id, start_tok, end_tok, n_shingles, span_len) — one row
per maximal extent, end exclusive, span_len = end_tok − start_tok,
n_shingles = duplicated positions inside the extent. All BIGINT.

Scale shape: ONE corpus-sized projection explodes (doc_id, pos,
8-byte shingle digest); the duplication test is a COUNT window over
hash (first keyed exchange, map-side partial-free but linear); the
island merge reuses ONE hashpartitioning(doc_id) exchange for both
sweep windows AND the final (doc_id, island) groupBy (subset
clustering — the q_interval_coverage plan discipline, plan-pinned in
tests/test_plans.py). No joins, no self-joins, no suffix sort; at
100 TB both exchanges are linear in token count and the state per
task is one running maximum.

Parity note: the reference (reference server.js:1-302) has no
dedup surface; this extends SURVEY.md §2b's dedup family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: shingle width in tokens (see the module docstring for why 25
#: against this fixture geometry; Lee et al. 2022 use 50)
SPAN_W = 25


def token_array():
    """The corpus tokenization (lowercase, whitespace-split, empties
    dropped) as ONE Column expression — the single definition the span
    family, q_doc_novelty's totals branch AND the diversity /
    vocabulary-store lane (operators/diversity.py) share, so a future
    tokenization tweak cannot silently desynchronize the families. Built
    lazily so importing the module needs no active session."""
    return F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != ""
    )


def corpus_tokens(documents: DataFrame) -> DataFrame:
    """(doc_id, ts): the corpus tokenization as token ARRAYS — the
    ONE definition the span family and its consumers (q_doc_novelty's
    totals branch) share, so per-doc token counts can never
    desynchronize from the shingle frame they must agree with
    (n_tokens = n_shingles + w − 1 is an output invariant)."""
    return documents.select("doc_id", token_array().alias("ts"))


def shingle_positions(documents: DataFrame, w: int = SPAN_W) -> DataFrame:
    """(doc_id, pos, h): every w-token shingle of every document —
    pos 1-based, h = the 60-bit md5-derived BIGINT digest of the
    newline-joined tokens (see the module docstring). The position
    range is guarded with ``if(size >= w, sequence(...), array())``
    because Spark's ``sequence(1, 0)`` auto-DECREMENTS into [1, 0]
    instead of yielding an empty range (pinned in tests)."""
    if w < 1:
        raise ValueError("shingle_positions needs w >= 1")
    ts = corpus_tokens(documents)
    return ts.select(
        "doc_id",
        F.expr(
            f"explode(transform("
            f" if(size(ts) >= {w}, sequence(1, size(ts) - {w} + 1), array()),"
            f" i -> struct(CAST(i AS BIGINT) AS pos,"
            f" CAST(conv(substring(md5(array_join(slice(ts, i, {w}),"
            f" char(10))), 1, 15), 16, 10) AS BIGINT) AS h)))"
        ).alias("x"),
    ).select("doc_id", "x.pos", "x.h")


def span_extents(documents: DataFrame, w: int = SPAN_W) -> DataFrame:
    """Maximal duplicated-span extents per document (see the module
    docstring). Two keyed exchanges end to end: hash (duplication
    count window) and doc_id (sweep + islands groupBy)."""
    return extents_from_positions(shingle_positions(documents, w), w)


def extents_from_positions(sh: DataFrame, w: int = SPAN_W) -> DataFrame:
    """The post-shingling pipeline over ANY (doc_id, pos, h) frame —
    the split point that lets the STREAMED shingle-postings store
    (``streaming/spanstore.py``) answer extent queries without
    re-tokenizing: ingest shingles once, read extents from the stored
    8-byte digests."""
    # duplication gate as a COUNT window over the hash — one exchange
    # (a groupBy + join-back shape would pay the hash shuffle twice)
    dup = (
        sh.withColumn("n_occ", F.count("*").over(Window.partitionBy("h")))
        .filter(F.col("n_occ") >= 2)
        .select("doc_id", "pos")
    )
    return extents_from_dup_positions(dup, w)


def extents_from_dup_positions(dup: DataFrame, w: int = SPAN_W) -> DataFrame:
    """The sweep-line island merge over an ALREADY-GATED (doc_id,
    pos) duplicated-position frame — the split that lets the
    drop-scoring read path (novelty.novelty_of_drop) supply its own
    duplication verdicts (stored-corpus counts + drop counts) and
    reuse the IDENTICAL merge, so batch and store-read extents can
    never diverge in the coalescing rule."""
    # sweep-line island merge on [pos, pos + w): the intervals.py
    # convention — a new island opens only when pos STRICTLY exceeds
    # the running max end, so overlapping and touching spans merge
    w_scan = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prev_max_end = F.max(F.col("pos") + w).over(w_scan)
    flagged = dup.withColumn(
        "opens",
        F.when(
            prev_max_end.isNull() | (F.col("pos") > prev_max_end), 1
        ).otherwise(0),
    )
    islands = flagged.withColumn("island", F.sum("opens").over(w_run))
    return islands.groupBy("doc_id", "island").agg(
        F.min("pos").cast("bigint").alias("start_tok"),
        (F.max("pos") + w).cast("bigint").alias("end_tok"),
        F.count("*").cast("bigint").alias("n_shingles"),
        (F.max("pos") + w - F.min("pos")).cast("bigint").alias("span_len"),
    ).drop("island")


def q_span_extents(documents: DataFrame) -> DataFrame:
    """Declared query: duplicated-span extents at w = SPAN_W
    over the documents corpus. The DuckDB oracle rebuilds the shingle
    hashes, the corpus-wide duplication gate and the sweep-line merge
    over identical integer positions — every output column BIGINT,
    the compare exact."""
    return span_extents(documents)


#: the DuckDB twin — width interpolated from SPAN_W so the oracle can never
#: drift from the engine default
SPAN_EXTENTS_ORACLE = rf"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'),
                         t -> t <> '') AS ts
      FROM documents
    ), sh AS (
      SELECT doc_id, CAST(i.g AS BIGINT) AS pos,
             ('0x' || substr(md5(array_to_string(ts[i.g:i.g + {SPAN_W} - 1],
                                                 chr(10))), 1, 15))::BIGINT AS h
      FROM toks, UNNEST(generate_series(1, len(ts) - {SPAN_W} + 1)) i(g)
      WHERE len(ts) >= {SPAN_W}
    ), dup AS (
      SELECT doc_id, pos
      FROM (SELECT doc_id, pos,
                   count(*) OVER (PARTITION BY h) AS n_occ
            FROM sh)
      WHERE n_occ >= 2
    ), fl AS (
      SELECT doc_id, pos,
             CASE WHEN max(pos + {SPAN_W}) OVER w IS NULL
                       OR pos > max(pos + {SPAN_W}) OVER w
                  THEN 1 ELSE 0 END AS opens
      FROM dup
      WINDOW w AS (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ), isl AS (
      SELECT doc_id, pos,
             sum(opens) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS island
      FROM fl
    )
    SELECT doc_id,
           CAST(min(pos) AS BIGINT) AS start_tok,
           CAST(max(pos) + {SPAN_W} AS BIGINT) AS end_tok,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(max(pos) + {SPAN_W} - min(pos) AS BIGINT) AS span_len
    FROM isl GROUP BY doc_id, island
"""
