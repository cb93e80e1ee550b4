"""Per-source Gini concentration of document lengths: the
classic inequality coefficient (Gini 1912; the rank-weighted form of
Sen, On Economic Inequality 1973, eq. 2.8.1) applied to the corpus
axis a data-mixing pipeline actually watches: how unequally a
source's bytes are distributed over its documents. A source whose
Gini is ~0 is uniform boilerplate (every doc the same size — a
template farm); a high-Gini source is dominated by a few huge
documents (a scrape that swallowed whole dumps). Both are sampling
and dedup priorities, and the statistic complements
q_simpson_diversity (vocabulary concentration) with SIZE
concentration.

Semantics: for a source with documents of sizes x_1 ≤ … ≤ x_n
(ties broken by doc_id — irrelevant to the value, since swapping
equal sizes leaves Σ i·x_(i) unchanged, but it makes both engines
rank identically), the Gini coefficient is

    G = 2·Σ i·x_(i) / (n·Σ x) − (n + 1)/n

Determinism contract: the emitted columns are the PURE-INTEGER
sufficient statistics — n, sum_x = Σx, sum_ix = Σ i·x_(i), all
BIGINT and compared bitwise (sum_ix stays under 10^18 while
n·max_chars < 10^13 per source — 10⁵× the bench scale). G itself is
ONE fixed-shape double expression over those integers (each operand
an exact BIGINT→DOUBLE conversion, each op correctly rounded in the
same written order on both engines).

Scale shape: a narrow projection, then ONE window (the in-group
rank) and ONE keyed aggregation sharing a single
hashpartitioning(source) exchange. The per-source sort is the honest
order-statistic requirement (the q_robust_stats contract);
parallelism is across sources. If a single source ever dominates the
corpus, the q_equidepth_hist distributed-grouped-rank rewrite
(range-partition + broadcast offsets) swaps in with the same
arithmetic — the rank-weighted sum only needs the rank, not a
co-resident group.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def q_gini_concentration(documents: DataFrame) -> DataFrame:
    """Declared query: per-source size-concentration
    statistics — (source, n, sum_x, sum_ix, gini); integers exact,
    gini one fixed-shape double expression (module docstring has the
    parity argument)."""
    base = documents.filter(F.col("n_chars").isNotNull()).select(
        "source",
        F.col("n_chars").cast("bigint").alias("x"),
        "doc_id",
    )
    w = Window.partitionBy("source").orderBy(
        F.col("x").asc(), F.col("doc_id").asc()
    )
    ranked = base.withColumn("i", F.row_number().over(w).cast("bigint"))
    agg = ranked.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sum_x"),
        F.sum(F.col("i") * F.col("x")).cast("bigint").alias("sum_ix"),
    )
    n_d = F.col("n").cast("double")
    # sum_x = 0 (a source whose documents are ALL zero-length) would
    # divide by zero — an ANSI-mode runtime error in the driver's
    # plain session, NaN in DuckDB (a property-test finding). The
    # coefficient is undefined there; both engines emit NULL.
    return agg.withColumn(
        "gini",
        F.when(
            F.col("sum_x") > 0,
            F.lit(2.0)
            * F.col("sum_ix").cast("double")
            / (n_d * F.col("sum_x").cast("double"))
            - (n_d + F.lit(1.0)) / n_d,
        ),
    )


#: the DuckDB twin — identical
#: in-group rank, identical integer sufficient statistics, identical
#: fixed-shape double for G.
GINI_CONCENTRATION_ORACLE = """
    WITH base AS (
      SELECT source, CAST(n_chars AS BIGINT) AS x, doc_id
      FROM documents WHERE n_chars IS NOT NULL
    ), ranked AS (
      SELECT source, x,
             CAST(row_number() OVER (PARTITION BY source
                                     ORDER BY x, doc_id) AS BIGINT) AS i
      FROM base
    ), agg AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sum_x,
             CAST(sum(i * x) AS BIGINT) AS sum_ix
      FROM ranked GROUP BY source
    )
    SELECT source, n, sum_x, sum_ix,
           CASE WHEN sum_x > 0 THEN
             2.0 * CAST(sum_ix AS DOUBLE)
                 / (CAST(n AS DOUBLE) * CAST(sum_x AS DOUBLE))
             - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE)
           END AS gini
    FROM agg
"""
