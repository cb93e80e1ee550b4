"""SAX symbolic aggregate approximation of event time series:
the time-series-to-string discretization of Lin, Keogh, Lonardi &
Chiu (DMKD 2003, "A Symbolic Representation of Time Series") that
turns each user's event-value stream into a short alphabet word, so
string infrastructure the engine already has (exact dedup,
fingerprinting, n-gram Jaccard, collocations) applies verbatim to
numeric telemetry: two users with the same SAX word are candidate
behavioral duplicates, a rare SAX word is an anomaly candidate.

Semantics, re-expressed RANK-BASED for cross-engine exactness: the
classic pipeline is PAA (piecewise aggregate approximation — mean per
fixed time frame) then z-normalized Gaussian-breakpoint binning. The
z-normalization divides by a stddev whose parallel summation order is
engine-dependent in IEEE doubles, so the breakpoint comparison could
flip on a ulp (as with per-group money averages). This
implementation keeps the PAA step verbatim (hourly frames,
``date_trunc('hour', ts)``) but replaces the Gaussian breakpoints
with EQUI-DEPTH rank quantization: NTILE(ALPHABET) over each user's
frame means. Rank quantization is the standard SAX variant for
non-Gaussian series (the authors' own robustness note — breakpoints
exist only to equalize symbol probabilities, which NTILE achieves by
construction), and it is exactly portable: the only float ever formed
is ONE division of two exact BIGINTs (micro-unit sum / count), an
IEEE operation both engines round identically, with (mean, frame)
tie-breaks so the rank order can never be ambiguous.

Output: one row per user — (user_id, n_frames, sax_word) where
sax_word is the time-ordered concatenation of 'a'..'d' symbols
(ALPHABET = 4, the SAX paper's default cardinality).

Scale shape: one keyed aggregation (user, hour) with map-side
combine, then windows over the PER-USER FRAME frame (thousands of
times smaller than the event stream), one hashpartitioning(user_id)
exchange shared by the NTILE and the word assembly, and a final
user-keyed aggregation inside the same partitioning. The raw event
table is touched exactly once; nothing driver-side. At 100 TB the
(user, hour) pre-aggregation is the load-bearing reducer — frames
per user are bounded by the observation window (8,760 hourly frames
per user-year) regardless of event volume, so the window stage's
per-group work is constant-bounded and skew-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: SAX alphabet cardinality (Lin et al. 2003 use 3–10; 4 is the
#: paper's running example) — interpolated into the staged oracle so
#: engine and oracle can never drift.
ALPHABET = 4


def q_sax_symbols(events: DataFrame, alphabet: int = ALPHABET) -> DataFrame:
    """Declared query: per-user SAX words over hourly PAA
    frames of ``value`` — (user_id, n_frames, sax_word); rank-based
    symbol assignment (module docstring has the exactness argument)."""
    frames = (
        events.filter(F.col("value").isNotNull() & F.col("user_id").isNotNull())
        .select(
            "user_id",
            F.date_trunc("hour", F.col("ts")).alias("frame"),
            F.round(F.col("value") * 1_000_000).cast("bigint").alias("micros"),
        )
        .groupBy("user_id", "frame")
        .agg(
            F.sum("micros").alias("s"),
            F.count("*").cast("bigint").alias("c"),
        )
    )
    # ONE exact-integer division per frame: bigint→double is exact
    # (< 2^53) and the division is a single correctly-rounded IEEE op,
    # so both engines order frames identically; frame breaks ties.
    mean = (F.col("s").cast("double") / F.col("c")).alias("paa_mean")
    w_rank = Window.partitionBy("user_id").orderBy(
        F.col("paa_mean").asc(), F.col("frame").asc()
    )
    symbols = (
        frames.select("user_id", "frame", mean)
        .withColumn("_ntile", F.ntile(alphabet).over(w_rank))
        .withColumn("sym", F.char(F.lit(96) + F.col("_ntile")))
    )
    return (
        symbols.groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_frames"),
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("frame", "sym"))
                    ),
                    lambda st: st["sym"],
                ),
            ).alias("sax_word"),
        )
    )


#: the DuckDB twin — identical
#: hourly PAA, identical single-division mean, identical NTILE rank
#: quantization (both engines give the first n_rows % n buckets the
#: extra row), time-ordered string_agg.
SAX_SYMBOLS_ORACLE = f"""
    WITH frames AS (
      SELECT user_id, date_trunc('hour', ts) AS frame,
             CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS s,
             CAST(count(*) AS BIGINT) AS c
      FROM events
      WHERE value IS NOT NULL AND user_id IS NOT NULL
      GROUP BY user_id, date_trunc('hour', ts)
    ), ranked AS (
      SELECT user_id, frame,
             ntile({ALPHABET}) OVER (
               PARTITION BY user_id
               ORDER BY CAST(s AS DOUBLE) / c, frame) AS b
      FROM frames
    )
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_frames,
           string_agg(chr(CAST(96 + b AS INTEGER)), ''
                      ORDER BY frame) AS sax_word
    FROM ranked GROUP BY user_id
"""
