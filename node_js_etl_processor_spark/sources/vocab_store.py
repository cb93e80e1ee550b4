"""The vocabulary tier of the partials store.

``operators.diversity.vocab_counts`` mines (source, token, count)
from a document batch; at corpus scale the vocabulary is built
INCREMENTALLY — every crawl drop adds its token counts — and consumed
by the lexical-diversity statistics (``q_simpson_diversity``) and
per-token frequency probes. Token counts SUM-merge per (source,
token), so ``VOCAB`` keeps them in the generation-log store of
``sources/partials_store.py`` (write / append / compact / applier).
Partials are bucketed by a 64-way token hash (the BM25 fan-out —
vocabularies are bigger than domain sets) so per-token probes prune
the listing; the per-SOURCE diversity read scans all buckets but
aggregates map-side, the honest cost of a corpus-level statistic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from node_js_etl_processor_spark.operators.diversity import (
    diversity_from_counts,
    vocab_counts,
)
from node_js_etl_processor_spark.sources.partials_store import (
    PartialsSpec,
    probe_partials,
    read_partials,
)

VOCAB = PartialsSpec(
    name="vocab",
    build=vocab_counts,
    keys=("source", "w"),
    value="c",
    bucket_key="w",
    n_buckets=64,
)


def read_vocab_counts(spark: SparkSession, path: str) -> DataFrame:
    """The aggregated vocabulary: SUM the stored partials per
    (source, token) — identical output to ``vocab_counts`` over the
    full ingested corpus (test-pinned)."""
    return read_partials(spark, VOCAB, path)


def diversity_from_store(spark: SparkSession, path: str) -> DataFrame:
    """The stored form of ``q_simpson_diversity``: the aggregated
    counts through the SAME per-source reduce the batch operator
    uses — statistics identical over the same ingested corpus
    (test-pinned)."""
    return diversity_from_counts(read_vocab_counts(spark, path))


def token_counts_probe(spark: SparkSession, path: str, token: str) -> DataFrame:
    """One token's aggregated per-source counts — the probe shape the
    bucket partitioning exists for (1 of 64 directories listed)."""
    return probe_partials(spark, VOCAB, path, token)
