"""Per-document duplication-coverage ("novelty") scoring —
DECLARED in r17 (built + staged-oracle-verified in r16): for
every document long enough to shingle, how much of it is covered by
corpus-duplicated w-token runs — the document-level cut/down-weight
signal Lee et al., ACL 2022 derive from ExactSubstr matches (§5:
train-set fraction covered by duplicated substrings), composing the
span family (``operators/spans.py``) into the curation-score shape
q_gopher_rules / q_quality_classifier consume.

Output, one row per document with ≥ 1 shingle (clean documents
included — a gate needs the clean list too):
(doc_id, n_tokens, n_shingles, n_dup_shingles, dup_extent_tokens) —
n_tokens = n_shingles + w − 1 (exact for any doc that shingles at
all), n_dup_shingles = positions whose shingle occurs ≥ 2 times
corpus-wide, dup_extent_tokens = Σ span_len over the document's
MERGED extents (tokens covered by duplicated runs — overlaps counted
once because the sweep-line merge already coalesced them). All
BIGINT; the novelty ratio (1 − dup_extent_tokens / n_tokens) is left
to the consumer, PMI-statistics style, so nothing floats.

Scale shape: the batch path touches the hashed shingle frame exactly
ONCE (the duplication window) — per-doc totals need no hashing at
all, since a doc's shingle count is just greatest(|tokens| − w + 1,
0), so they come straight off the token arrays (the r16 in-session
review: the first cut re-ran the corpus-wide tokenize+md5 subtree
for the totals branch). The corpus-sized frame is NOT checkpointed
(the repo's checkpoint discipline is batch/parameter-sized frames
only). The extent pipeline is the span family's two keyed exchanges;
the final assembly is one keyed agg per side + a doc-keyed join.
Composes with the streamed shingle-postings store
(``streaming/spanstore.py``): pass its positions tree through
``novelty_from_positions`` — there the totals re-scan is a plain
parquet re-read — and the score is incremental too.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from node_js_etl_processor_spark.functions import barrier

from .spans import (
    SPAN_W,
    corpus_tokens,
    extents_from_dup_positions,
    extents_from_positions,
    shingle_positions,
)


def _coverage(totals: DataFrame, sh: DataFrame, w: int) -> DataFrame:
    """The shared assembly: per-doc totals (doc_id, n_shingles) +
    the duplicated-extent reduce over the shingle frame → the
    five-column coverage row."""
    return _coverage_from_extents(totals, extents_from_positions(sh, w), w)


def _coverage_from_extents(
    totals: DataFrame, ext: DataFrame, w: int
) -> DataFrame:
    """Assembly over an already-built extent frame — the r17 split
    that lets the drop scorer supply extents gated against the
    STORED corpus's counts while reusing the identical reduce."""
    dup = ext.groupBy("doc_id").agg(
        F.sum("n_shingles").cast("bigint").alias("n_dup_shingles"),
        F.sum("span_len").cast("bigint").alias("dup_extent_tokens"),
    )
    return (
        totals.join(dup, "doc_id", "left")
        .select(
            "doc_id",
            (F.col("n_shingles") + (w - 1)).cast("bigint").alias("n_tokens"),
            "n_shingles",
            F.coalesce("n_dup_shingles", F.lit(0))
            .cast("bigint")
            .alias("n_dup_shingles"),
            F.coalesce("dup_extent_tokens", F.lit(0))
            .cast("bigint")
            .alias("dup_extent_tokens"),
        )
    )


def novelty_from_positions(sh: DataFrame, w: int = SPAN_W) -> DataFrame:
    """Coverage scores over ANY (doc_id, pos, h) shingle frame — the
    streamed postings store's read path (there the totals re-scan is
    a plain parquet re-read; the frame is deliberately NOT
    checkpointed — the r16 third review's corpus-sized-state
    argument)."""
    totals = sh.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_shingles")
    )
    return _coverage(totals, sh, w)


def _drop_totals(drop_docs: DataFrame, w: int) -> DataFrame:
    """Per-doc shingle totals straight off the token arrays —
    greatest(|tokens| − w + 1, 0) summed per doc_id (re-ingested
    duplicates sum, the r16 fifth-review rule). Used by the BATCH
    query only: the drop scorer reads its totals off its
    checkpointed shingle frame instead (one hash pass) — the two
    definitions agree because per-doc posting count ==
    greatest(|tokens| − w + 1, 0) for every doc with ≥ 1 shingle,
    the span family's output invariant."""
    per_row = corpus_tokens(drop_docs).select(
        "doc_id",
        F.greatest(F.size("ts") - (w - 1), F.lit(0))
        .cast("bigint")
        .alias("n_sh_row"),
    )
    return (
        per_row.groupBy("doc_id")
        .agg(F.sum("n_sh_row").cast("bigint").alias("n_shingles"))
        .filter(F.col("n_shingles") >= 1)
    )


#: above this many drop shingle POSTINGS the store filter switches
#: from a broadcast semi-join to a shuffle semi-join. Shingle digests
#: are near-unique per position, so the distinct-digest frame scales
#: with the drop's TOKEN COUNT, not with any bounded vocabulary (the
#: r17 advice's correction of this module's earlier size claim); at
#: ~16 bytes a digest row, 4M postings ≈ 64 MB — near Spark's
#: practical broadcast comfort zone, so larger drops shuffle instead.
BROADCAST_POSTING_CAP = 4_000_000


def novelty_of_drop(
    drop_docs: DataFrame,
    stored_positions: DataFrame,
    w: int = SPAN_W,
    broadcast_posting_cap: int = BROADCAST_POSTING_CAP,
) -> DataFrame:
    """Score a NEW drop's per-document duplication coverage against
    an already-ingested corpus WITHOUT re-hashing the corpus — the
    curation gate's decision input BEFORE the drop is admitted (the
    kmv_difference-over-the-theta-store read discipline applied to
    the span family). ``stored_positions`` is the shingle-postings
    store's (doc_id, pos, h) tree (streaming/spanstore.py); only the
    DROP is tokenized here.

    Semantics: identical to ``q_doc_novelty(corpus ∪ drop)``
    restricted to the drop's doc_ids — a drop position is duplicated
    iff its digest occurs ≥ 2 times across stored corpus + drop (so
    both corpus twins AND within-drop twins count), and extents go
    through the very same sweep-line merge
    (``spans.extents_from_dup_positions``). Equality is test-pinned
    UNDER THE INGEST PRECONDITION that the drop's doc_ids are NEW
    (disjoint from the stored corpus — the doc_id-ordered drop
    contract every ingest lane documents). A doc_id that ALREADY has
    stored postings is scored from its drop-side rows only: its
    stored twin's identical digests make every drop position
    duplicated, so a re-delivered document scores as fully covered —
    exactly the cut verdict a gate wants for a re-ingest — but its
    totals do NOT sum both copies the way the batch operator's
    repeated-doc_id rule does (behavior pinned in tests).

    Scale shape: the store is touched by ONE semi-join pass — stored
    postings are filtered to the drop's distinct digests and counted
    per digest; no corpus-wide shuffle of the STORE's content beyond
    that keyed filter, no corpus re-read of text. The digest frame is
    NOT vocabulary-bounded: shingles are near-unique per position, so
    it scales with the drop's token count (the r17 advice corrected
    the earlier "batch-vocabulary-sized" claim here) — small drops
    broadcast it (store side stays shuffle-free), drops above
    ``broadcast_posting_cap`` postings fall back to an ordinary
    shuffle semi-join on ``h``, same rows either way. The cap is
    decided from the checkpointed frame's row count (an upper bound
    on distinct digests — no extra distinct pass). The drop-side work
    is batch-sized, and the drop's tokenize+md5 shingle subtree runs
    exactly ONCE (the frame is cut — batch-sized, so inside the
    ``barrier.cut`` discipline — and feeds the digest filter,
    the duplication gate AND the totals, the q_doc_novelty
    single-hash-subtree invariant on the read path)."""
    sh_d = barrier.cut(shingle_positions(drop_docs, w), "novelty.drop_shingles")
    drop_h = sh_d.select("h").distinct()
    if sh_d.count() <= broadcast_posting_cap:
        drop_h = F.broadcast(drop_h)
    stored_cnt = (
        stored_positions.join(drop_h, "h")
        .groupBy("h")
        .agg(F.count("*").cast("bigint").alias("n_stored"))
    )
    dup = (
        sh_d.withColumn(
            "n_drop", F.count("*").over(Window.partitionBy("h"))
        )
        .join(stored_cnt, "h", "left")
        .withColumn(
            "n_occ",
            F.col("n_drop") + F.coalesce("n_stored", F.lit(0)),
        )
        .filter(F.col("n_occ") >= 2)
        .select("doc_id", "pos")
    )
    # totals off the SAME checkpointed shingle frame (per-doc posting
    # counts — novelty_from_positions' totals), not a re-tokenize
    totals = sh_d.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_shingles")
    )
    return _coverage_from_extents(
        totals, extents_from_dup_positions(dup, w), w
    )


def q_doc_novelty(documents: DataFrame, w: int = SPAN_W) -> DataFrame:
    """Declared query (r17): per-document duplication coverage
    (see the module docstring). Totals come straight off the token
    arrays — greatest(|tokens| − w + 1, 0) via ``_drop_totals``,
    which also keeps the r16 fifth-review rule (repeated doc_ids sum
    like the oracle's GROUP BY) — so the corpus-wide tokenize+md5
    shingle subtree runs exactly once (the duplication branch), not
    twice."""
    return _coverage(
        _drop_totals(documents, w), shingle_positions(documents, w), w
    )


#: the DuckDB twin, registry-wired in r17 — width
#: interpolated from SPAN_W (the r16 advice discipline); rebuilds
#: shingles, the duplication gate, the sweep merge AND the coverage
#: assembly, so the composition is checked end to end
def doc_novelty_oracle(w: int = SPAN_W) -> str:
    """The DuckDB twin at any shingle width — the test gates run
    it at hand widths (w=4) on in-memory frames as well as at the
    declared SPAN_W."""
    return rf"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'),
                         t -> t <> '') AS ts
      FROM documents
    ), sh AS (
      SELECT doc_id, CAST(i.g AS BIGINT) AS pos,
             ('0x' || substr(md5(array_to_string(ts[i.g:i.g + {w} - 1],
                                                 chr(10))), 1, 15))::BIGINT AS h
      FROM toks, UNNEST(generate_series(1, len(ts) - {w} + 1)) i(g)
      WHERE len(ts) >= {w}
    ), totals AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles FROM sh GROUP BY doc_id
    ), dupp AS (
      SELECT doc_id, pos
      FROM (SELECT doc_id, pos, count(*) OVER (PARTITION BY h) AS n_occ FROM sh)
      WHERE n_occ >= 2
    ), fl AS (
      SELECT doc_id, pos,
             CASE WHEN max(pos + {w}) OVER w IS NULL
                       OR pos > max(pos + {w}) OVER w
                  THEN 1 ELSE 0 END AS opens
      FROM dupp
      WINDOW w AS (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ), isl AS (
      SELECT doc_id, pos,
             sum(opens) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS island
      FROM fl
    ), ext AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_sh,
             CAST(max(pos) + {w} - min(pos) AS BIGINT) AS span_len
      FROM isl GROUP BY doc_id, island
    ), dup AS (
      SELECT doc_id, CAST(sum(n_sh) AS BIGINT) AS n_dup_shingles,
             CAST(sum(span_len) AS BIGINT) AS dup_extent_tokens
      FROM ext GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(t.n_shingles + {w} - 1 AS BIGINT) AS n_tokens,
           t.n_shingles,
           CAST(coalesce(d.n_dup_shingles, 0) AS BIGINT) AS n_dup_shingles,
           CAST(coalesce(d.dup_extent_tokens, 0) AS BIGINT) AS dup_extent_tokens
    FROM totals t LEFT JOIN dup d USING (doc_id)
"""


#: the default-width twin, registry-wired in r17
DOC_NOVELTY_ORACLE = doc_novelty_oracle(SPAN_W)
