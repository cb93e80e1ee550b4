"""Lexical diversity / vocabulary concentration per source:
the vocabulary-level dataset-card block that q_corpus_stats's
doc-level totals cannot provide — Simpson's repeat rate (Simpson,
Nature 1949, "Measurement of Diversity"; equivalently the Herfindahl
concentration of the unigram distribution), the hapax-legomenon
share (Baayen, Word Frequency Distributions 2001 — the classic
productivity signal), and Yule's characteristic K (Yule 1944, The
Statistical Study of Literary Vocabulary). Curation pipelines read
these to spot template-heavy or boilerplate-dominated sources: a
low-diversity source (high repeat rate, low hapax share) is a dedup
and quality-filter priority.

Determinism contract: tokens are the corpus-wide convention
(lowercased, whitespace-split, empties dropped — the q_tfidf/BM25
tokenization). The emitted statistics are PURE-INTEGER sufficient
statistics — n_tokens = Σc, n_types, simpson_num = Σ c·(c−1),
n_hapax = |{c = 1}| — so Simpson's index is the exact rational
simpson_num / (n·(n−1)) and never rounds a float in the compare.
Yule's K = 10⁴·(Σc² − n)/n² is emitted as ONE fixed-shape double
expression over those integers (each operand an exact BIGINT→DOUBLE
conversion, each op correctly rounded in the same written order —
both engines produce the bit-identical double).

Scale shape: two keyed aggregations, both map-side combined —
(source, token) counts, then a per-source reduce of the type-count
frame (vocabulary-sized, thousands of times smaller than the token
stream). No windows, no joins, no explode output beyond the token
stream the count consumes immediately. This is the same
two-aggregation shape as q_pmi_collocations' unigram side and
scales identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .spans import token_array


def vocab_counts(documents: DataFrame) -> DataFrame:
    """Per-(source, token) counts — the diversity family's sufficient
    statistics frame, and exactly what the incremental vocabulary store
    (sources/vocab_store.py) maintains as SUM-mergeable partials.
    Tokenization is ``spans.token_array`` — the span family's ONE shared
    definition (a local copy here could silently desynchronize the
    vocab-store counts from the span/tfidf tokenization)."""
    return (
        documents.select("source", F.explode(token_array()).alias("w"))
        .groupBy("source", "w")
        .agg(F.count("*").cast("bigint").alias("c"))
    )


def diversity_from_counts(counts: DataFrame) -> DataFrame:
    """The per-source reduce over a (source, w, c) vocabulary frame —
    shared by the batch operator and the store read
    (vocab_store.diversity_from_store), so both produce the identical
    statistics by construction."""
    agg = counts.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count("*").cast("bigint").alias("n_types"),
        F.sum(F.col("c") * (F.col("c") - 1)).cast("bigint").alias(
            "simpson_num"
        ),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_hapax"),
    )
    sum_c2 = F.col("simpson_num").cast("double") + F.col("n_tokens").cast(
        "double"
    )
    n_d = F.col("n_tokens").cast("double")
    return agg.withColumn(
        "yule_k", F.lit(10_000.0) * (sum_c2 - n_d) / (n_d * n_d)
    )


def q_simpson_diversity(documents: DataFrame) -> DataFrame:
    """Declared query: per-source vocabulary concentration
    — (source, n_tokens, n_types, simpson_num, n_hapax, yule_k);
    integers exact, yule_k one fixed-shape double expression (module
    docstring has the parity argument)."""
    return diversity_from_counts(vocab_counts(documents))


#: the DuckDB twin — identical
#: tokenization, identical integer sufficient statistics, identical
#: fixed-shape double for Yule's K. NOTE the K expression reuses
#: Σc² = simpson_num + n EXACTLY as the engine does (simpson_num is
#: Σc(c−1) = Σc² − n), keeping every double op in the same order.
SIMPSON_DIVERSITY_ORACLE = r"""
    WITH toks AS (
      SELECT source,
             unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                t -> t <> '')) AS w
      FROM documents
    ), counts AS (
      SELECT source, w, CAST(count(*) AS BIGINT) AS c
      FROM toks GROUP BY source, w
    ), agg AS (
      SELECT source,
             CAST(sum(c) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS n_types,
             CAST(sum(c * (c - 1)) AS BIGINT) AS simpson_num,
             CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hapax
      FROM counts GROUP BY source
    )
    SELECT source, n_tokens, n_types, simpson_num, n_hapax,
           10000.0 * ((CAST(simpson_num AS DOUBLE)
                       + CAST(n_tokens AS DOUBLE))
                      - CAST(n_tokens AS DOUBLE))
                   / (CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE))
             AS yule_k
    FROM agg
"""
