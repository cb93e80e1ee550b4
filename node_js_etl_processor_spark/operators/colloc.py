"""PMI collocations — DECLARED in r16 (built + pytest-oracle-verified in r15): pointwise-mutual-information bigram mining over the documents
corpus (Church & Hanks, Computational Linguistics 1990, "Word
Association Norms, Mutual Information, and Lexicography") — the
standard corpus-linguistics pass a training-data pipeline runs to
find multi-word expressions worth protecting from tokenizer splits.

Semantics: tokens are the corpus-wide convention (lowercased,
whitespace-split, empties dropped — the q_tfidf/BM25 tokenization);
bigrams are CONSECUTIVE token pairs within a document. With
N = total token instances, M = total bigram instances,
n_x / n_y = unigram counts and n_xy = the bigram count,
``PMI(x,y) = ln( (n_xy/M) / ((n_x/N)(n_y/N)) )``. A collocation is a
bigram with ``n_xy ≥ min_count`` AND ``PMI > 0`` (observed-together
more than unigram independence predicts).

Determinism contract: the emitted columns are the PURE-INTEGER
sufficient statistics (n_xy, n_x, n_y, n_tokens, n_bigrams) — PMI
itself is a log of a rational and is left to the consumer, so the
oracle compare never rounds a float. The PMI > 0 gate is evaluated as
the EXACT cross-multiplication ``n_xy·N² > M·n_x·n_y`` in wide
fixed-point arithmetic: Spark DECIMAL(38,0) operands (the product's
declared precision caps at 38, but the VALUES stay exact while
n_xy·N² < 10^38 — corpora past 10^12 tokens — and under Spark 4's
default ANSI mode a genuine value overflow raises instead of
silently nulling the gate) vs DuckDB HUGEINT, so the boundary can
never flip on a float ulp.

Scale shape: two corpus-sized keyed aggregations (unigram counts,
bigram counts — both map-side combined), two scalar totals, then the
n_xy ≥ min_count filter collapses the bigram frame BEFORE it joins
the vocabulary-sized unigram counts (keyed joins; AQE broadcasts the
filtered side when it fits). No windows, no self-joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from node_js_etl_processor_spark.functions import barrier
from node_js_etl_processor_spark.operators.spans import token_array

#: default support threshold for a candidate collocation
MIN_COUNT = 20


def q_pmi_collocations(documents: DataFrame, min_count: int = MIN_COUNT) -> DataFrame:
    """Collocations with exact-integer PMI>0 gating: one row per
    (w1, w2) bigram with n_xy ≥ min_count and positive PMI, carrying
    the integer sufficient statistics (n_xy, n_x, n_y, n_tokens,
    n_bigrams)."""
    # the tokenized frame feeds FOUR consumers
    # (unigram counts, token total, bigram counts, bigram total) —
    # the same multi-consumer fan-out class as basket.py's baskets;
    # without the cut the corpus tokenization re-runs per branch.
    # token_array is the span family's single tokenization definition
    # (r19 consolidation — this module's _toks was a textual copy;
    # the shared Column keeps q_pmi_collocations' bigram space
    # aligned with the span/novelty/vocabulary lanes by construction)
    toks = barrier.cut(
        documents.select(token_array().alias("ts")), "colloc.tokens"
    )
    uni = toks.select(F.explode("ts").alias("w"))
    ucnt = uni.groupBy("w").agg(F.count("*").cast("long").alias("n"))
    n_tok = uni.agg(F.count("*").cast("long").alias("n_tokens"))
    bi = toks.select(
        F.explode(
            F.expr(
                "transform(slice(ts, 1, greatest(size(ts) - 1, 0)),"
                " (x, i) -> struct(x AS w1, ts[i + 1] AS w2))"
            )
        ).alias("b")
    ).select("b.w1", "b.w2")
    bcnt = bi.groupBy("w1", "w2").agg(
        F.count("*").cast("long").alias("n_xy")
    )
    n_bi = bi.agg(F.count("*").cast("long").alias("n_bigrams"))
    dec = lambda c: F.col(c).cast("decimal(38,0)")
    return (
        bcnt.filter(F.col("n_xy") >= min_count)
        .join(ucnt.withColumnRenamed("w", "w1").withColumnRenamed("n", "n_x"), "w1")
        .join(ucnt.withColumnRenamed("w", "w2").withColumnRenamed("n", "n_y"), "w2")
        .crossJoin(n_tok)
        .crossJoin(n_bi)
        # exact 128-bit PMI>0 gate: n_xy·N² > M·n_x·n_y
        .filter(
            dec("n_xy") * dec("n_tokens") * dec("n_tokens")
            > dec("n_bigrams") * dec("n_x") * dec("n_y")
        )
        .select("w1", "w2", "n_xy", "n_x", "n_y", "n_tokens", "n_bigrams")
    )


#: the DuckDB twin, registry-wired in r16 — the
#: r15 tests run it through the same compare the driver uses. The
#: min-count threshold is interpolated from MIN_COUNT (r16 advice
#: item) so the oracle can never drift from the engine default.
PMI_COLLOCATIONS_ORACLE = rf"""
    WITH toks AS (
      SELECT list_filter(string_split_regex(lower(text), '\s+'),
                         t -> t <> '') AS ts
      FROM documents
    ), uni AS (
      SELECT unnest(ts) AS w FROM toks
    ), ucnt AS (
      SELECT w, CAST(count(*) AS BIGINT) AS n FROM uni GROUP BY w
    ), ntok AS (
      SELECT CAST(count(*) AS BIGINT) AS n_tokens FROM uni
    ), bi AS (
      SELECT ts[u.i] AS w1, ts[u.i + 1] AS w2
      FROM toks, UNNEST(generate_series(1, greatest(len(ts) - 1, 0))) AS u(i)
    ), bcnt AS (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_xy
      FROM bi GROUP BY w1, w2
    ), nbi AS (
      SELECT CAST(count(*) AS BIGINT) AS n_bigrams FROM bi
    )
    SELECT b.w1, b.w2, b.n_xy, ux.n AS n_x, uy.n AS n_y,
           ntok.n_tokens, nbi.n_bigrams
    FROM bcnt b
    JOIN ucnt ux ON ux.w = b.w1
    JOIN ucnt uy ON uy.w = b.w2, ntok, nbi
    WHERE b.n_xy >= {MIN_COUNT}
      AND CAST(b.n_xy AS HUGEINT) * ntok.n_tokens * ntok.n_tokens
          > CAST(nbi.n_bigrams AS HUGEINT) * ux.n * uy.n
"""
