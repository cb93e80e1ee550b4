"""Text-analysis operators for training-data pipelines (north star).

Language ID, quality scoring, token counting, and fingerprinting over
the ``documents`` table. All built-in Column expressions (split /
regexp / md5 / arithmetic) — no UDFs, so they hold up on a 100 TB
corpus: every operator is a narrow projection or a partial-aggregated
groupBy.

The reference has no text operators (SURVEY.md §2a); these implement
the north-star extension surface.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from node_js_etl_processor_spark.functions import barrier

#: Tiny per-language stopword marker lists for the n-gram/stopword
#: language-ID heuristic. Deliberately small + deterministic; real
#: pipelines would swap in fastText-style models via mapInPandas.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is"),
    "de": ("der", "die", "und", "nicht", "das"),
    "fr": ("le", "la", "et", "les", "des"),
    "es": ("el", "la", "los", "que", "de"),
    "zh": ("的", "是", "了", "在", "我"),
}


def tokens(text: Column) -> Column:
    """Whitespace tokenization (empty tokens removed)."""
    return F.filter(F.split(text, r"\s+"), lambda t: t != "")


def token_count(text: Column) -> Column:
    return F.size(tokens(text)).cast("bigint")


def marker_score(text: Column, markers: tuple[str, ...]) -> Column:
    """Count of marker words present (padded LIKE containment — identical
    semantics in Spark and ANSI SQL, which keeps the oracle exact)."""
    padded = F.concat(F.lit(" "), text, F.lit(" "))
    score = F.lit(0)
    for m in markers:
        score = score + F.when(padded.contains(f" {m} "), 1).otherwise(0)
    return score


def quality_features(text: Column) -> dict[str, Column]:
    """Length / punctuation / word-shape quality signals."""
    n_chars = F.length(text).cast("bigint")
    toks = tokens(text)
    n_tokens = F.size(toks).cast("bigint")
    alpha_chars = F.length(F.regexp_replace(text, r"[^A-Za-z]", "")).cast("bigint")
    punct_chars = F.length(F.regexp_replace(text, r"[^.,;:!?]", "")).cast("bigint")
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "avg_token_len": F.when(n_tokens > 0, (alpha_chars.cast("double") / n_tokens)),
        "punct_ratio": F.when(n_chars > 0, punct_chars.cast("double") / n_chars),
    }


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint: md5 of the whitespace- and
    case-normalized text. Stable across engines (md5 is standard), which
    makes fingerprint-dedup oracle-checkable."""
    normalized = F.lower(F.trim(F.regexp_replace(text, r"\s+", " ")))
    return F.md5(normalized)


# ---------------------------------------------------------------- queries


def q_text_stats(documents: DataFrame) -> DataFrame:
    """Per-language corpus statistics (declared query q_text_stats)."""
    return documents.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg(F.length("text")), 4).alias("avg_chars"),
        F.round(F.avg(token_count(F.col("text"))), 4).alias("avg_tokens"),
        F.sum(token_count(F.col("text"))).alias("total_tokens"),
    )


def q_text_langid(documents: DataFrame) -> DataFrame:
    """Stopword-marker language ID, scored per document, aggregated into
    a (true lang × predicted lang) confusion count."""
    doc = documents.select(
        "doc_id",
        "lang",
        *[
            marker_score(F.col("text"), ms).alias(f"score_{lang}")
            for lang, ms in LANG_MARKERS.items()
        ],
    )
    langs = list(LANG_MARKERS)
    best = F.greatest(*[F.col(f"score_{l}") for l in langs])
    # first language (in fixed order) achieving the max score; 'und' if none
    pred = F.lit("und")
    for l in reversed(langs):
        pred = F.when(F.col(f"score_{l}") == best, F.lit(l)).otherwise(pred)
    pred = F.when(best > 0, pred).otherwise(F.lit("und"))
    return (
        doc.withColumn("pred_lang", pred)
        .groupBy("lang", "pred_lang")
        .agg(F.count("*").alias("n"))
    )


def q_text_quality(documents: DataFrame) -> DataFrame:
    """Quality-signal scoring, aggregated per source."""
    qf = quality_features(F.col("text"))
    scored = documents.select(
        "source",
        qf["n_chars"].alias("n_chars"),
        qf["n_tokens"].alias("n_tokens"),
        qf["avg_token_len"].alias("avg_token_len"),
        qf["punct_ratio"].alias("punct_ratio"),
    )
    return scored.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
        F.round(F.avg("avg_token_len"), 4).alias("avg_token_len"),
        F.round(F.avg("punct_ratio"), 6).alias("avg_punct_ratio"),
    )


def q_token_count(documents: DataFrame) -> DataFrame:
    """Whitespace + BPE-ish token accounting per document.

    ``est_bpe_tokens`` uses the ~4-chars-per-token heuristic common in
    LLM data budgeting; exact both engines (integer arithmetic).
    """
    return documents.select(
        "doc_id",
        token_count(F.col("text")).alias("ws_tokens"),
        # explicit floor: DuckDB casts double→int by rounding, Spark by
        # truncation, so floor-then-cast is the engine-independent form
        F.floor((F.length("text") + F.lit(3)) / F.lit(4)).cast("bigint").alias(
            "est_bpe_tokens"
        ),
    )


def q_fingerprint(documents: DataFrame) -> DataFrame:
    """Document fingerprint dedup groups: md5-normalized fingerprint →
    keeper doc_id + group size (oracle-checkable dedup)."""
    return (
        documents.select("doc_id", fingerprint(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count("*").alias("n_dups"))
    )


# ------------------------------------------------------------- winnowing


def gram_hashes(text: Column, k: int = 8, portable: bool = False) -> Column:
    """Character k-gram hashes of the whitespace-normalized text.

    ``xxhash64`` per k-gram stands in for the Karp-Rabin rolling hash
    (same selected-minima semantics; the rolling recurrence is an
    evaluation-cost optimization whole-stage codegen does not need at
    these gram sizes).

    ``portable=True`` swaps xxhash64 for md5 hex strings — an
    engine-independent hash (md5 is standard everywhere), which makes
    the winnowing output oracle-checkable against ANSI SQL. Minima are
    then lexicographic over the fixed-width hex strings: any total
    order works for winnowing, only agreement between engines matters.
    The xxhash64 form stays the perf path (8-byte longs vs 32-char
    strings in the shuffle, ~4x cheaper hashing).
    """
    t = F.lower(F.regexp_replace(text, r"\s+", " "))
    n_grams = F.greatest(F.length(t) - (k - 1), F.lit(1))
    if portable:
        return F.transform(
            F.sequence(F.lit(1), n_grams),
            lambda i: F.md5(F.substr(t, i, F.lit(k))),
        )
    return F.transform(
        F.sequence(F.lit(1), n_grams),
        lambda i: F.xxhash64(F.substr(t, i, F.lit(k))),
    )


def winnow_minima(grams: Column, w: int = 4) -> Column:
    """Winnowing selection (Schleimer, Wilkerson & Aiken, SIGMOD 2003):
    the distinct minima of every sliding window of ``w`` consecutive
    gram-hashes — guaranteeing any shared substring of length ≥ k+w-1
    produces a shared fingerprint.

    CRITICAL eval-cost contract: ``grams`` MUST be a bound column
    reference (select ``gram_hashes`` into a column first), not an
    inline expression — an inline expression tree is re-evaluated for
    EVERY window index inside the lambda, turning the per-doc cost from
    O(n·w) into O(n²).
    """
    n_windows = F.greatest(F.size(grams) - (w - 1), F.lit(1))
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), n_windows),
            lambda j: F.array_min(F.slice(grams, j, w)),
        )
    )


def winnow_fingerprints(documents: DataFrame, portable: bool = False) -> DataFrame:
    """Winnowing document fingerprints — per-doc fingerprint-set size
    and a set signature (md5 of the sorted minima) under which exact
    and near-boilerplate duplicates collide.

    Scale: one narrow codegen pass; at 100 TB the fingerprint set is
    computed at ingest and stored, and plagiarism/overlap queries
    become joins on exploded minima. ``portable`` selects the gram
    hash (see gram_hashes): md5 for cross-engine checkability,
    xxhash64 for throughput.
    """
    from node_js_etl_processor_spark.catalog import spread

    grams = spread(documents).select(
        "doc_id", gram_hashes(F.col("text"), portable=portable).alias("grams")
    )
    mins = winnow_minima(F.col("grams"))
    return grams.select(
        "doc_id",
        F.size(mins).cast("bigint").alias("n_fingerprints"),
        F.md5(F.array_join(F.array_sort(mins), ",")).alias("winnow_sig"),
    )


def q_winnow_fingerprint(documents: DataFrame) -> DataFrame:
    """Declared query: winnowing fingerprints in the portable (md5)
    hash form — fully oracle-checked against DuckDB computing the same
    grams/windows/minima. The xxhash64 perf path is
    ``winnow_fingerprints(documents, portable=False)`` (same plan
    shape, cheaper hash; equivalence of the selection logic is pinned
    by tests on both forms)."""
    return winnow_fingerprints(documents, portable=True)


def q_corpus_pipeline(documents: DataFrame) -> DataFrame:
    """Capstone composition — the canonical LLM training-data prep
    pipeline as ONE declared query: quality filter → exact dedup
    (keep min doc_id per fingerprint) → deterministic 50% hash sample
    → per-language document/token accounting.

    Each stage is the already-tested operator (quality_features,
    fingerprint, md5 hash-sampling, token_count) — the point is that
    they COMPOSE into a single Catalyst plan: filter and projection
    push into the scan, the dedup window shuffles 16-byte digests, the
    sample is a narrow filter, and the final aggregation is partial.
    At 100 TB this plan is two keyed exchanges end to end.
    """
    from pyspark.sql.window import Window

    q = quality_features(F.col("text"))
    filtered = documents.filter(
        (q["n_tokens"] >= 5) & (F.coalesce(q["punct_ratio"], F.lit(0.0)) < 0.2)
    )
    fp = filtered.withColumn("fp", fingerprint(F.col("text")))
    keeper = (
        fp.withColumn(
            "rn", F.row_number().over(Window.partitionBy("fp").orderBy("doc_id"))
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    sample_bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 100
    )
    sampled = keeper.filter(sample_bucket < 50)
    return sampled.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(token_count(F.col("text"))).alias("total_tokens"),
        F.min("doc_id").alias("min_doc_id"),
    )


def chunk_documents(
    documents: DataFrame, chunk_size: int = 64, overlap: int = 16
) -> DataFrame:
    """Split documents into fixed-size overlapping token windows — the
    standard pre-tokenization step of an LLM training pipeline (long
    documents must become model-context-sized pieces; overlap preserves
    cross-boundary context).

    Chunk c starts at token index c*stride (stride = chunk_size -
    overlap) and takes up to chunk_size tokens; starts run while they
    point at an existing token, so every token lands in ≥1 chunk and a
    token-less doc yields one empty chunk (kept — downstream quality
    filters drop it, same as the reference pipeline's always-transform
    gate).

    Scale: one narrow pass (bound token array → sequence of starts →
    explode), no shuffle; at 100 TB this is a scan-bound projection
    whose output feeds the tokenizer, and the explode multiplies rows
    by ~n_tokens/stride with no data movement.
    """
    stride = chunk_size - overlap
    toked = documents.select("doc_id", tokens(F.col("text")).alias("toks"))
    # explode_outer + isNotNull: keeps InferFiltersFromGenerate from
    # pushing a size(sequence(...)) > 0 pre-filter below the toks
    # projection, which would tokenize every document a second time
    # (the sequence is never empty — its upper bound is ≥ 1)
    with_starts = toked.select(
        "doc_id",
        "toks",
        F.explode_outer(
            F.sequence(F.lit(1), F.greatest(F.size("toks"), F.lit(1)), F.lit(stride))
        ).alias("start"),
    ).filter(F.col("start").isNotNull())
    chunk = F.slice(F.col("toks"), F.col("start"), chunk_size)
    return with_starts.select(
        "doc_id",
        ((F.col("start") - 1) / stride).cast("bigint").alias("chunk_id"),
        F.size(chunk).cast("bigint").alias("n_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


def q_chunk_documents(documents: DataFrame) -> DataFrame:
    """Declared query: 64-token chunks with 16-token overlap, plus a
    per-chunk exact fingerprint so chunk-level dedup (the usual next
    stage) is ready to run. Fully oracle-checked."""
    chunks = chunk_documents(documents)
    return chunks.select(
        "doc_id", "chunk_id", "n_tokens", F.md5(F.col("chunk_text")).alias("chunk_fp")
    )


def pack_chunks(
    chunks: DataFrame, budget: int = 256, n_shards: int = 32
) -> DataFrame:
    """Concat-and-split sequence packing: assign chunks to fixed
    token-budget bins — the step after chunking that fills model
    context windows without padding waste. A chunk goes to the bin its
    RUNNING token total (before the chunk) falls in, in deterministic
    (doc_id, chunk_id) order; that is exactly the "concatenate the
    stream, cut every `budget` tokens" packing big pipelines use
    (greedy bin packing is iterative; stream-cut is the
    shuffle-friendly industry form).

    Scale: a single global running sum would serialize on one
    partition, so packing is SHARDED — the cumulative sum windows over
    ``doc_id % n_shards`` and bins are (shard, bin-within-shard). Each
    shard packs independently (embarrassingly parallel, one shuffle on
    the shard key); at 100 TB n_shards is set so each shard's window
    state fits an executor.
    """
    from pyspark.sql.window import Window

    shard = (F.col("doc_id") % n_shards).cast("bigint")
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id", "chunk_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_cum = chunks.withColumn("shard", shard).select(
        "shard",
        "doc_id",
        "chunk_id",
        "n_tokens",
        (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("tokens_before"),
    )
    return with_cum.select(
        "shard",
        "doc_id",
        "chunk_id",
        "n_tokens",
        F.floor(F.col("tokens_before") / budget).cast("bigint").alias("bin_id"),
    )


def q_pack_chunks(documents: DataFrame) -> DataFrame:
    """Declared query: chunk the corpus (64/16 windows), pack chunks
    into 256-token bins across 32 shards, and report per-bin fill
    statistics — bins per shard, tokens per bin, fill ratio. Fully
    oracle-checked (windows + integer arithmetic, exact both engines).
    """
    packed = pack_chunks(chunk_documents(documents))
    return (
        packed.groupBy("shard", "bin_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum("n_tokens").alias("bin_tokens"),
        )
        .select(
            "shard",
            "bin_id",
            "n_chunks",
            "bin_tokens",
            F.round(F.col("bin_tokens") / F.lit(256.0), 6).alias("fill_ratio"),
        )
    )


def q_chunk_pack_pipeline(documents: DataFrame) -> DataFrame:
    """End-to-end chunk→dedup→pack capstone as ONE composed plan: chunk
    the corpus (64/16 token windows), drop duplicate chunks by exact
    md5 fingerprint (keeper = smallest (doc_id, chunk_id)), pack the
    survivors into 256-token bins over 32 shards, and report per-shard
    packing stats. Fully oracle-checked.

    This is the actual training-data path the engine advertises, with
    no materialization boundary between stages: Catalyst compiles the
    whole thing to the narrow chunk explode plus exactly TWO keyed
    exchanges — chunk_fp for the dedup window, shard for the packing
    window; the final per-shard aggregation (and its distinct count)
    reuses the shard partitioning, so it adds no exchange
    (plan-pinned in tests/test_plans.py).
    """
    from pyspark.sql.window import Window

    chunks = chunk_documents(documents).withColumn(
        "chunk_fp", F.md5(F.col("chunk_text"))
    )
    keeper = (
        chunks.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("chunk_fp").orderBy("doc_id", "chunk_id")
            ),
        )
        .filter(F.col("rn") == 1)
        .drop("rn", "chunk_text", "chunk_fp")
    )
    packed = pack_chunks(keeper)
    n_bins = F.count_distinct(F.col("bin_id"))
    return packed.groupBy("shard").agg(
        F.count("*").alias("n_chunks"),
        n_bins.cast("bigint").alias("n_bins"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.sum("n_tokens") / (n_bins * F.lit(256.0)), 6).alias("avg_fill"),
    )


def gopher_rules(text: Column) -> dict[str, Column]:
    """Gopher-style document quality rules (Rae et al., "Scaling
    Language Models: Methods, Analysis & Insights from Training
    Gopher", 2021, §A1.1 — the public web-corpus filter heuristics),
    re-expressed as pure Column predicates:

    - word count within [5, 10_000] (fixture-scaled bounds);
    - mean word length within [2, 12];
    - symbol-to-word ratio (# or …) ≤ 0.1;
    - < 30% of lines start with a bullet;
    - ≥ 70% of words contain at least one alphabetic character.

    All integer/ratio arithmetic over one bound token array — a narrow
    codegen pass; identical semantics in ANSI SQL for the oracle.
    """
    toks = tokens(text)
    n_words = F.size(toks).cast("bigint")
    total_chars = F.aggregate(
        toks, F.lit(0).cast("bigint"), lambda acc, t: acc + F.length(t)
    )
    mean_word_len = F.when(n_words > 0, total_chars.cast("double") / n_words)
    n_symbols = (
        F.length(F.regexp_replace(text, r"[^#…]", "")).cast("bigint")
    )
    lines = F.split(text, r"\n")
    n_lines = F.size(lines).cast("bigint")
    bullet_lines = F.size(
        F.filter(lines, lambda l: F.trim(l).rlike(r"^[-*•]"))
    ).cast("bigint")
    alpha_words = F.size(
        F.filter(toks, lambda t: t.rlike(r"[A-Za-z]"))
    ).cast("bigint")
    return {
        "n_words": n_words,
        "mean_word_len": mean_word_len,
        "symbol_ratio": F.when(n_words > 0, n_symbols.cast("double") / n_words),
        "bullet_ratio": F.when(n_lines > 0, bullet_lines.cast("double") / n_lines),
        "alpha_word_ratio": F.when(n_words > 0, alpha_words.cast("double") / n_words),
    }


def q_gopher_rules(documents: DataFrame) -> DataFrame:
    """Declared query: per-source Gopher-rule pass rates — how much of
    each source survives each rule and all rules together (the
    corpus-curation dashboard number). Fully oracle-checked; ratio
    comparisons stay in exact integer form where possible (counts
    compared against count*bound) to dodge float-boundary flakiness.
    """
    r = gopher_rules(F.col("text"))
    flags = documents.select(
        "source",
        (r["n_words"].between(5, 10_000)).alias("ok_words"),
        F.coalesce(r["mean_word_len"].between(2.0, 12.0), F.lit(False)).alias("ok_wordlen"),
        F.coalesce(r["symbol_ratio"] <= 0.1, F.lit(False)).alias("ok_symbols"),
        F.coalesce(r["bullet_ratio"] < 0.3, F.lit(False)).alias("ok_bullets"),
        F.coalesce(r["alpha_word_ratio"] >= 0.7, F.lit(False)).alias("ok_alpha"),
    )
    keep = (
        F.col("ok_words")
        & F.col("ok_wordlen")
        & F.col("ok_symbols")
        & F.col("ok_bullets")
        & F.col("ok_alpha")
    )
    return flags.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("ok_words").cast("bigint")).alias("pass_words"),
        F.sum(F.col("ok_wordlen").cast("bigint")).alias("pass_wordlen"),
        F.sum(F.col("ok_symbols").cast("bigint")).alias("pass_symbols"),
        F.sum(F.col("ok_bullets").cast("bigint")).alias("pass_bullets"),
        F.sum(F.col("ok_alpha").cast("bigint")).alias("pass_alpha"),
        F.sum(keep.cast("bigint")).alias("pass_all"),
    )


def q_repetition_rules(documents: DataFrame) -> DataFrame:
    """Gopher repetition filters (Rae et al. 2021 §A1.1, the
    "repetitious text" half q_gopher_rules doesn't cover), per doc:

    - ``dup_line_frac`` — fraction of non-empty lines that are repeats
      of an earlier-seen line value (1 - distinct/total); null when the
      doc has no non-empty lines;
    - ``top_bigram_frac`` — fraction of tokens covered by the most
      frequent REPEATED word bigram (count*2 / n_tokens, the
      token-fraction form of Gopher's most-common-n-gram rule); null
      when no bigram occurs twice — a doc whose bigrams are all unique
      has no repetition, and counting a count-1 bigram would reject
      every document under 10 tokens;
    - ``keep`` — dup_line_frac ≤ 0.3 AND top_bigram_frac ≤ 0.2, with
      nulls passing (a doc with no lines/bigrams has no repetition
      evidence against it).

    Plan shape: line stats are one narrow pass (array_distinct over a
    bound line array — O(lines) per doc). The bigram mode is NOT
    computed with a per-element array scan (O(n²) per doc — web docs
    hit thousands of tokens): bigrams explode to (doc_id, bigram) and
    two partial-aggregated groupBys find the per-doc max count — the
    scale-correct heavy-hitter form, exchanges keyed on doc_id. Fully
    oracle-checked.
    """
    from node_js_etl_processor_spark.catalog import spread

    base = spread(documents).select(
        "doc_id",
        tokens(F.col("text")).alias("toks"),
        F.filter(
            F.split(F.col("text"), r"\n"), lambda l: F.trim(l) != ""
        ).alias("lines"),
    )
    n_lines = F.size("lines").cast("bigint")
    line_stats = base.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("n_tokens"),
        F.when(
            n_lines > 0,
            (n_lines - F.size(F.array_distinct("lines"))).cast("double") / n_lines,
        ).alias("dup_line_frac"),
    )
    # explode_outer + isNotNull: see q_decontaminate — plain explode
    # lets InferFiltersFromGenerate clone the bigram-building transform
    # into an unbound pushed-down filter (quadratic re-tokenization)
    bigrams = (
        base.filter(F.size("toks") >= 2)
        .select(
            "doc_id",
            F.explode_outer(
                F.transform(
                    F.sequence(F.lit(0), F.size("toks") - 2),
                    lambda i: F.concat(
                        F.element_at(F.col("toks"), i + 1),
                        F.lit(" "),
                        F.element_at(F.col("toks"), i + 2),
                    ),
                )
            ).alias("bg"),
        )
        .filter(F.col("bg").isNotNull())
    )
    top = (
        bigrams.groupBy("doc_id", "bg")
        .count()
        .filter(F.col("count") >= 2)
        .groupBy("doc_id")
        .agg(F.max("count").alias("top_bg"))
    )
    joined = line_stats.join(top, "doc_id", "left")
    top_frac = F.when(
        F.col("n_tokens") >= 2,
        (F.col("top_bg") * 2).cast("double") / F.col("n_tokens"),
    )
    return joined.select(
        "doc_id",
        F.round(F.col("dup_line_frac"), 6).alias("dup_line_frac"),
        F.round(top_frac, 6).alias("top_bigram_frac"),
        (
            F.coalesce(F.col("dup_line_frac") <= 0.3, F.lit(True))
            & F.coalesce(top_frac <= 0.2, F.lit(True))
        ).alias("keep"),
    )


def c4_kept_lines(text: Column, min_line_words: int = 5) -> Column:
    """C4's line-level retention rule (Raffel et al., "Exploring the
    Limits of Transfer Learning with a Unified Text-to-Text
    Transformer", JMLR 2020, §2.2): keep a line only when it ends in a
    terminal punctuation mark and has at least ``min_line_words``
    words. Pure Column lambda over the split-lines array — narrow, no
    shuffle."""
    lines = F.split(text, r"\n")
    return F.filter(
        lines,
        lambda l: F.trim(l).rlike(r'[.!?"”]$')
        & (F.size(F.filter(F.split(F.trim(l), r"\s+"), lambda t: t != "")) >= min_line_words),
    )


def q_c4_rules(documents: DataFrame) -> DataFrame:
    """Declared query: per-source C4 cleaning pass rates (Raffel et
    al. 2020 §2.2) — the other canonical public web-corpus filter next
    to ``q_gopher_rules``:

    - ``pass_lang``: language gate (C4 keeps langdetect-en ≥ 0.99;
      here the corpus's ``lang`` column stands in for the detector —
      ``q_text_langid`` is the from-scratch detector twin);
    - ``pass_words``: ≥ 30 words (C4 drops short pages; threshold
      fixture-scaled);
    - ``pass_lines``: ≥ 1 line surviving the terminal-punctuation +
      ≥ 5-word line rule (the line-level C4 filter — the synthetic
      corpus is single-line unpunctuated word soup, so this column is
      honestly 0 here; the rule itself is pinned by unit tests on
      crafted multi-line docs);
    - ``pass_brace`` / ``pass_lorem``: no '{' and no 'lorem ipsum'
      (C4's code/boilerplate tells);
    - ``pass_all``: conjunction.

    One narrow projection + partial agg — same shape and scale story
    as q_gopher_rules. Fully oracle-checked.
    """
    text = F.col("text")
    toks = tokens(text)
    flags = documents.select(
        "source",
        (F.col("lang") == "en").alias("ok_lang"),
        (F.size(toks) >= 30).alias("ok_words"),
        (F.size(c4_kept_lines(text)) >= 1).alias("ok_lines"),
        (~text.contains("{")).alias("ok_brace"),
        (~F.lower(text).contains("lorem ipsum")).alias("ok_lorem"),
    )
    keep = (
        F.col("ok_lang")
        & F.col("ok_words")
        & F.col("ok_lines")
        & F.col("ok_brace")
        & F.col("ok_lorem")
    )
    return flags.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("ok_lang").cast("bigint")).alias("pass_lang"),
        F.sum(F.col("ok_words").cast("bigint")).alias("pass_words"),
        F.sum(F.col("ok_lines").cast("bigint")).alias("pass_lines"),
        F.sum(F.col("ok_brace").cast("bigint")).alias("pass_brace"),
        F.sum(F.col("ok_lorem").cast("bigint")).alias("pass_lorem"),
        F.sum(keep.cast("bigint")).alias("pass_all"),
    )


def q_decontaminate(
    documents: DataFrame,
    ngram: int = 8,
    eval_mod: int = 50,
    hashed: bool = False,
    portable: bool = False,
) -> DataFrame:
    """Benchmark decontamination: flag training documents that share
    any ``ngram``-token shingle with a held-out eval set — the standard
    n-gram-overlap test-set hygiene step of a pre-training pipeline
    (the eval set here is the deterministic ``doc_id % eval_mod == 0``
    slice of the corpus, standing in for an external benchmark table).
    Output: per-source training-doc counts, contaminated counts, and
    the contamination rate. Fully oracle-checked.

    Scale shape: the eval side of a real pipeline is megabytes against
    terabytes of training data, so its distinct shingle set is
    BROADCAST and contaminated doc_ids come from a broadcast semi-join
    probe — the training side is one narrow explode with no shuffle
    for candidate generation; only the final per-source aggregation
    exchanges. Token-less docs are excluded on both sides (their
    shingle set degenerates to [""], which would cross-contaminate).
    The declared form joins shingles as STRINGS so the DuckDB oracle
    replays the join verbatim; ``hashed=True`` is the ingest-scale
    path — both sides keyed on xxhash64(g) (8-byte keys in the
    broadcast set and the probe, same plan) at a ~1e-7 whole-corpus
    false-positive probability. Output equality of the two forms on
    the fixtures is unit-tested; ``hashed=True, portable=True`` swaps
    xxhash64 for the md5-derived ``portable_hash64`` so the hashed
    join is ALSO driver-gated against a DuckDB oracle that hashes the
    same way (``q_decontaminate_hashed`` — the minhash-portability
    precedent applied to the decontamination scale path).
    """
    from node_js_etl_processor_spark.catalog import spread
    from node_js_etl_processor_spark.operators.dedup import (
        portable_hash64,
        shingles_from_tokens,
    )

    toked = (
        spread(documents)
        .select("doc_id", "source", tokens(F.col("text")).alias("toks"))
        .filter(F.size("toks") > 0)
    )
    gs = shingles_from_tokens(F.col("toks"), ngram)
    if hashed:
        hash_fn = portable_hash64 if portable else F.xxhash64
        gs = F.transform(gs, lambda g: hash_fn(g))
    grams = toked.select(
        "doc_id",
        "source",
        (F.col("doc_id") % eval_mod == 0).alias("is_eval"),
        gs.alias("gs"),
    )
    # explode_outer + isNotNull instead of explode: Catalyst's
    # InferFiltersFromGenerate clones plain explode's input into a
    # pushed-down `size(<array expr>) > 0` pre-filter, and pushing it
    # below the toks projection UNBINDS the column — the filter then
    # re-tokenizes the full text once per shingle element (interpreted
    # HOFs have no subexpression reuse): the exact quadratic BENCH.md
    # lesson #1 warns about, reintroduced by the optimizer. gs is
    # never empty here (size(toks) > 0 is filtered above), so the
    # rewrite is semantically identity — and 4× faster measured
    # (probe stage 2.8 s → 0.7 s at sf0.1).
    eval_grams = (
        grams.filter("is_eval")
        .select(F.explode_outer("gs").alias("g"))
        .filter(F.col("g").isNotNull())
        .distinct()
    )
    train = grams.filter(~F.col("is_eval"))
    contaminated = (
        train.select("doc_id", F.explode_outer("gs").alias("g"))
        .filter(F.col("g").isNotNull())
        .join(F.broadcast(eval_grams), "g", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("hit", F.lit(True))
    )
    flagged = train.select("doc_id", "source").join(contaminated, "doc_id", "left")
    return flagged.groupBy("source").agg(
        F.count("*").alias("n_train_docs"),
        F.sum(F.coalesce(F.col("hit"), F.lit(False)).cast("bigint")).alias(
            "n_contaminated"
        ),
        F.round(
            F.sum(F.coalesce(F.col("hit"), F.lit(False)).cast("bigint"))
            / F.count("*").cast("double"),
            6,
        ).alias("contamination_rate"),
    )


def q_decontaminate_hashed(documents: DataFrame) -> DataFrame:
    """Declared query: the decontamination SCALE path under the oracle
    gate — both join sides keyed on the md5-derived ``portable_hash64``
    of each 8-token shingle (8-byte keys, the ingest-scale form) with a
    DuckDB oracle that hashes the same grams the same way
    (``('0x'||substr(md5(g),1,16))::UBIGINT``) before ITS join. Same
    plan shape as ``q_decontaminate`` (broadcast distinct eval hashes +
    left-semi probe); output must equal the string form unless a hash
    collision fires (none on the fixtures — and a collision would
    surface as a count diff here, which is the point of gating it)."""
    return q_decontaminate(documents, hashed=True, portable=True)


def q_source_mix(documents: DataFrame) -> DataFrame:
    """Data-mixing accounting: per-source document/token counts, each
    source's token share, and the sampling weight that would rebalance
    the corpus to a UNIFORM token budget across sources — the mixture-
    weights step of assembling a training mix. Fully oracle-checked.

    Scale shape: one partial-aggregated groupBy over the corpus; the
    global-total window then runs over the AGGREGATED frame (one row
    per source — dozens, not documents), so the empty-partition window
    is deliberate and bounded, never over raw data.
    """
    from pyspark.sql.window import Window

    from node_js_etl_processor_spark.catalog import spread

    agg = spread(documents).groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(token_count(F.col("text"))).alias("src_tokens"),
    )
    w = Window.partitionBy()
    tot = F.sum("src_tokens").over(w)
    n_src = F.count("*").over(w)
    return agg.select(
        "source",
        "n_docs",
        "src_tokens",
        F.round(F.col("src_tokens") / tot.cast("double"), 6).alias("token_share"),
        F.when(
            F.col("src_tokens") > 0,
            F.round((tot.cast("double") / n_src) / F.col("src_tokens"), 6),
        ).alias("mix_weight"),
    )


def q_weighted_sample(
    documents: DataFrame, temperature: float = 0.7, budget_frac: float = 0.5
) -> DataFrame:
    """Temperature-weighted corpus sampling, executed: compute each
    source's token share, rescale shares by ``share^T`` (the
    exponent-smoothing mixing knob — T<1 flattens the distribution
    toward uniform, upweighting small sources; T=1 is proportional;
    cf. the α-smoothed multilingual sampling rule of Conneau &
    Lample, NeurIPS 2019, α=0.7 here), size each source's token
    budget to ``budget_frac`` of the corpus, and then actually SAMPLE
    documents with a deterministic
    content-hash Bernoulli at the per-source rate. Output: per-source
    target rate and realized doc/token counts. Fully oracle-checked.

    Complements ``q_source_mix`` (which reports uniform-rebalance
    weights but samples nothing): this is the operator that turns mix
    weights into a concrete keep-set. Content-hash sampling (same
    md5-bucket device as ``split_assign``) keeps byte-identical
    duplicates together and makes the sample reshuffle-free
    reproducible — rerun on any cluster size selects the same docs.

    Determinism contract: the rate is rounded to 6 digits in both
    engines BEFORE the keep comparison (pow/window-sum drift lives
    beyond 1e-12; the decision boundary moves identically on both
    sides), and the comparison is hash-bucket < rate·2^32 on exact
    uint32 buckets.

    Scale shape: one partial-aggregated groupBy builds the per-source
    frame; the share/pow/normalize windows run over that AGGREGATED
    frame (one row per source); the tiny rate table broadcasts back
    onto the corpus for the keep decision; one final partial agg.
    """
    from pyspark.sql.window import Window

    from node_js_etl_processor_spark.catalog import spread

    agg = spread(documents).groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(token_count(F.col("text"))).alias("src_tokens"),
    )
    w = Window.partitionBy()
    share = F.col("src_tokens").cast("double") / F.sum("src_tokens").over(w)
    s1 = agg.select("source", "n_docs", "src_tokens", share.alias("share"))
    powed = F.pow(F.col("share"), float(temperature))
    s2 = s1.select("*", powed.alias("powed"))
    rate = F.when(
        F.col("src_tokens") > 0,
        F.round(
            F.least(
                F.lit(1.0),
                F.lit(budget_frac) * F.col("powed") / F.sum("powed").over(w)
                / F.col("share"),
            ),
            6,
        ),
    ).otherwise(F.lit(0.0))
    rates = s2.select("source", "n_docs", "src_tokens", rate.alias("sample_rate"))

    bucket = F.conv(F.substring(fingerprint(F.col("text")), 1, 8), 16, 10).cast(
        "bigint"
    )
    per_doc = documents.select(
        "source",
        bucket.alias("bucket"),
        token_count(F.col("text")).alias("n_toks"),
    )
    joined = per_doc.join(F.broadcast(rates), "source")
    kept = (F.col("bucket").cast("double")
            < F.col("sample_rate") * F.lit(4294967296.0))
    return (
        joined.groupBy("source")
        .agg(
            F.first("n_docs").alias("n_docs"),
            F.first("src_tokens").alias("src_tokens"),
            F.first("sample_rate").alias("sample_rate"),
            F.sum(kept.cast("bigint")).alias("n_sampled"),
            F.sum(F.when(kept, F.col("n_toks")).otherwise(F.lit(0))).alias(
                "sampled_tokens"
            ),
        )
        .orderBy("source")
    )


def span_positions(toks: Column, n: int = 5) -> Column:
    """All ``n``-token spans of a document IN POSITION ORDER, with
    multiplicity (unlike ``dedup.shingles_from_tokens``, which
    dedups) — the unit of account for duplicated-span fractions.
    Empty when the doc has fewer than ``n`` tokens.

    Eval-cost contract (same as winnow_minima): ``toks`` MUST be a
    bound column reference — the lambda references it once per span.
    """
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(1), F.size(toks) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(idx, lambda i: F.array_join(F.slice(toks, i, n), " "))


def q_span_dedup(
    documents: DataFrame, n: int = 5, max_dup_pct: int = 5, hashed: bool = False
) -> DataFrame:
    """Duplicated-span accounting (the document-level proxy for Lee et
    al., "Deduplicating Training Data Makes Language Models Better",
    ACL 2022, whose ExactSubstr pass removes ≥50-token spans shared
    across documents — span length fixture-scaled to 5): per doc, the
    fraction of its n-token span POSITIONS whose span text also occurs
    in some OTHER document. ``keep`` drops docs whose corpus-shared
    span mass exceeds ``max_dup_pct`` percent — compared in exact
    integer form (dup*100 <= n*pct), never on the rounded float.
    Fully oracle-checked.

    Scale shape: narrow span explode → one exchange keyed on the span
    for the distinct-doc count → shuffle join back on the span →
    per-doc aggregation (one exchange keyed on doc_id). The shared-
    span side is NOT broadcast (unlike decontamination's megabyte eval
    set, the cross-doc duplicate-span set grows with the corpus).
    Declared form joins span STRINGS so the oracle replays the join
    verbatim; ``hashed=True`` is the ingest-scale path — 8-byte
    xxhash64 keys in both aggregations and the join (same plan, ~1e-7
    whole-corpus false-positive probability); output equality of the
    two forms is unit-tested.
    """
    from node_js_etl_processor_spark.catalog import spread

    toked = spread(documents).select("doc_id", tokens(F.col("text")).alias("toks"))
    gcol = span_positions(F.col("toks"), n)
    if hashed:
        gcol = F.transform(gcol, lambda g: F.xxhash64(g))
    # explode_outer + isNotNull: see q_decontaminate — plain explode
    # lets InferFiltersFromGenerate clone the span-building expression
    # into an unbound pushed-down filter (quadratic re-tokenization)
    pos = (
        toked.select("doc_id", F.explode_outer(gcol).alias("g"))
        .filter(F.col("g").isNotNull())
    )
    dup_spans = (
        pos.select("g", "doc_id")
        .distinct()
        .groupBy("g")
        .count()
        .filter(F.col("count") > 1)
        .select("g", F.lit(True).alias("dup"))
    )
    marked = pos.join(dup_spans, "g", "left")
    per_doc = marked.groupBy("doc_id").agg(
        F.count("*").alias("n_spans"),
        F.sum(F.coalesce(F.col("dup"), F.lit(False)).cast("bigint")).alias("dup_spans"),
    )
    return per_doc.select(
        "doc_id",
        "n_spans",
        "dup_spans",
        F.round(F.col("dup_spans").cast("double") / F.col("n_spans"), 6).alias("dup_frac"),
        (F.col("dup_spans") * 100 <= F.col("n_spans") * max_dup_pct).alias("keep"),
    )


def split_assign(text: Column, val_pct: int = 10) -> Column:
    """Deterministic CONTENT-hash split assignment: the first 8 hex
    chars of the normalized-text md5 fingerprint, read as a uint32
    bucket, send ``val_pct`` percent of content to 'val'. Keying the
    split on the fingerprint (not the doc_id) means byte-identical
    duplicates can never straddle the train/val boundary — the split-
    leakage guard of a training pipeline. The threshold compares in
    exact integer form (bucket*100 < (100-val_pct)*2^32), never on a
    float fraction."""
    bucket = F.conv(F.substring(fingerprint(text), 1, 8), 16, 10).cast("bigint")
    return F.when(
        bucket * 100 < F.lit((100 - val_pct) * 4294967296), F.lit("train")
    ).otherwise(F.lit("val"))


def q_stratified_split(documents: DataFrame, val_pct: int = 10) -> DataFrame:
    """Declared query: per-(source, split) document and token counts
    for a deterministic 90/10 content-hash train/val split — the
    holdout-carving step of corpus assembly, stratified so every
    source is represented in both splits. Fully oracle-checked.

    Scale: one narrow projection (md5 + integer compare, no RNG, no
    sort) + one partially-aggregated groupBy — the same one-exchange
    shape as q_count_by_source. A reshuffle-free re-run assigns every
    document to the same split on any cluster size, which is the
    property that matters for resumable 100 TB ingest.
    """
    per = documents.select(
        "source",
        split_assign(F.col("text"), val_pct).alias("split"),
        token_count(F.col("text")).alias("n_toks"),
    )
    return per.groupBy("source", "split").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_toks").alias("n_tokens"),
    )


#: Fixed quality-classifier parameters: (bias, w_tokens, w_stopwords,
#: w_alpha_len, w_punct) and the stopword marker vocabulary. Stands in
#: for trained fastText/logreg weights — inference is the engine's
#: job; training happens offline.
QUALITY_CLF_WEIGHTS = (-3.0, 0.02, 0.6, 0.25, -8.0)
QUALITY_CLF_STOPWORDS = ("the", "a", "of", "and", "to", "in")


def quality_logit(text: Column) -> Column:
    """The fixed-weight linear-model logit over engine-computed
    features — the shared inference expression of
    ``q_quality_classifier`` and the curation capstone. The chain is
    LEFT-ASSOCIATED and order-pinned: identical IEEE-double op
    sequence in Spark and the DuckDB oracle (see
    q_quality_classifier's determinism contract)."""
    feats = quality_features(text)
    bias, w_tok, w_stop, w_alen, w_punct = QUALITY_CLF_WEIGHTS
    stop_hits = marker_score(text, QUALITY_CLF_STOPWORDS)
    atl = F.coalesce(feats["avg_token_len"], F.lit(0.0))
    pr = F.coalesce(feats["punct_ratio"], F.lit(0.0))
    return (
        (
            (
                (F.lit(bias) + F.lit(w_tok) * feats["n_tokens"])
                + F.lit(w_stop) * stop_hits
            )
            + F.lit(w_alen) * atl
        )
        + F.lit(w_punct) * pr
    )


def q_quality_classifier(documents: DataFrame) -> DataFrame:
    """Model-based quality scoring, the classifier-filter stage of a
    pre-training pipeline (the role fastText quality classifiers play
    in CCNet/LLaMA-style curation; cf. Wenzek et al., "CCNet:
    Extracting High Quality Monolingual Datasets from Web Crawl Data",
    2020): per-doc linear-model inference over engine-computed
    features — token count, stopword marker hits, alphabetic chars per
    token, punctuation ratio — with FIXED public weights. Outputs the
    logit, the sigmoid score, and the keep decision. Fully
    oracle-checked.

    Determinism contract: the logit is a left-associated chain of
    IEEE-double ops evaluated in the SAME order in Spark and the
    DuckDB oracle (identical inputs → identical bit patterns), and
    ``keep`` compares the UNROUNDED logit against 0 — never a rounded
    float. Only the reported ``score`` passes through exp(), rounded
    to 6 digits.

    Scale: one narrow projection, no shuffle, no UDF — classifier
    inference stays inside whole-stage codegen. Output is per-doc
    (the downstream filter consumes it as a column), so there is no
    float aggregation to order-sensitively drift.
    """
    logit = quality_logit(F.col("text"))
    # the logit is emitted UNROUNDED: the per-row double chain is
    # bit-identical across engines, while engine-side round() semantics
    # DIVERGE exactly on the .xxxxxx5 decimal boundaries the a/(4n)
    # term produces (Spark rounds the binary expansion, DuckDB rounds
    # value*1e6 — same double, different 6th digit); the driver's
    # comparator rounds both sides in one place instead
    return documents.select(
        "doc_id",
        "source",
        logit.alias("logit"),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), 6).alias("score"),
        (logit >= 0).alias("keep"),
    )


def q_lm_perplexity(documents: DataFrame, buckets: int = 3) -> DataFrame:
    """CCNet-style LM perplexity filter (Wenzek et al., "CCNet:
    Extracting High Quality Monolingual Datasets from Web Crawl Data",
    2020 — the perplexity-bucketing stage): score every document by
    its mean negative log-likelihood under a unigram LM estimated from
    the corpus itself, then split the corpus into ``buckets``
    perplexity tiers (ntile over the per-doc score; bucket 1 = head /
    most-predictable, highest bucket = tail). CCNet scores against an
    external KenLM; a corpus-self unigram model is the same pipeline
    shape with the LM-estimation pass fused in, and is exactly
    oracle-reproducible. Token-less documents have no likelihood and
    are excluded (same as the oracle). Fully oracle-checked.

    Determinism contract: nll per token is one ln() on an exact
    cnt/total rational (identical expression both engines; BM25
    precedent for cross-engine ln agreement at 6-digit rounding);
    per-doc aggregation rounds avg(nll) to 6 digits, and the ntile
    orders by (rounded avg_nll, doc_id) so the tie order is total.

    Scale shape: ONE explode of the corpus feeds both the vocab count
    and the scoring join — token-keyed exchanges throughout (the
    vocab side reuses its own grouping partitioning for the join; at
    real scale AQE demotes it to broadcast when the vocabulary is
    small). The corpus total is a 1-row broadcast. The ntile window
    is the one global-order step, but it runs over the AGGREGATED
    per-doc frame (n_docs rows, not tokens) — same judgment as
    q_source_mix's global window.
    """
    from pyspark.sql.window import Window

    from node_js_etl_processor_spark.catalog import spread

    # explode_outer + isNotNull: see q_decontaminate — plain explode
    # lets InferFiltersFromGenerate clone the tokenizer into a pushed
    # size() filter that re-tokenizes per element
    toked = (
        spread(documents)
        .select("doc_id", F.explode_outer(tokens(F.col("text"))).alias("tok"))
        .filter(F.col("tok").isNotNull())
    )
    vocab = toked.groupBy("tok").agg(F.count("*").cast("bigint").alias("cnt"))
    # corpus total via a global window over the AGGREGATED vocab frame
    # (vocab-size rows) — a separate .agg() would re-scan and
    # re-tokenize the whole corpus a third time just for one scalar
    total = F.sum("cnt").over(Window.partitionBy()).cast("bigint")
    probs = vocab.select(
        "tok",
        F.log(total.cast("double") / F.col("cnt")).alias("nll"),
    )
    # broadcast the VOCAB side explicitly: post-explode row estimates
    # mislead Catalyst into building on the corpus-token side here. A
    # web-scale vocabulary is capped/top-k in practice (CCNet caps its
    # LM vocab) which keeps this side broadcastable; uncapped, drop
    # the hint and the token-keyed shuffle join takes over
    per_doc = (
        toked.join(F.broadcast(probs), "tok")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.round(F.avg("nll"), 6).alias("avg_nll"),
        )
    )
    w = Window.orderBy(F.col("avg_nll").asc(), F.col("doc_id").asc())
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "avg_nll",
        F.round(F.exp(F.col("avg_nll")), 4).alias("perplexity"),
        F.ntile(buckets).over(w).cast("bigint").alias("ppl_bucket"),
    )


#: Redaction patterns: RE2-and-Java-regex-compatible (no lookarounds,
#: no backrefs) so Spark and the DuckDB oracle apply byte-identical
#: rules. ORDER IS SEMANTIC: specific before general — emails first
#: (contain digits/dots), then IPv4, then phones. The phone pattern
#: accepts three shapes rather than any 7+-char digit/filler run (which
#: over-matched ISO dates and date ranges): an international +-prefixed
#: run, a 3-3-4 separator-grouped number, or a bare 7–15 digit run.
#: ISO dates ("2024-01-01") group digits 4-2-2 and never reach 7
#: consecutive digits, so they survive.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
    (
        "phone",
        r"(?:\+[0-9][0-9()\-\. ]{5,16}[0-9]|\(?[0-9]{3,4}\)?[\-\. ]?[0-9]{3,4}[\-\. ][0-9]{4}|\b[0-9]{7,15}\b)",
        "<PHONE>",
    ),
)


def redact_pii(text: Column) -> Column:
    """Apply the redaction chain in declared order (a later pattern
    never sees text a previous one replaced)."""
    out = text
    for _, pattern, token in PII_PATTERNS:
        out = F.regexp_replace(out, pattern, token)
    return out


def q_redact_pii(documents: DataFrame) -> DataFrame:
    """Declared query: PII scrubbing pass — redacted text fingerprint
    plus per-kind match counts per document. Counts audit the CHAIN:
    each pattern is counted on the text the chain hands it (after the
    previous redactions), so an IP never also counts as a phone.
    Regexes are restricted to the RE2 ∩ Java-regex dialect so the
    DuckDB oracle applies the exact same rules; fully oracle-checked.
    Scale: one narrow projection, no shuffle — the canonical
    pre-training scrub pass.
    """
    staged = [F.col("text")]
    for _, pattern, token in PII_PATTERNS:
        staged.append(F.regexp_replace(staged[-1], pattern, token))
    counts = [
        (F.size(F.split(staged[i], pattern, -1)) - 1).cast("bigint")
        for i, (_, pattern, _) in enumerate(PII_PATTERNS)
    ]
    return documents.select(
        "doc_id",
        *[c.alias(f"n_{name}") for (name, _, _), c in zip(PII_PATTERNS, counts)],
        F.md5(staged[-1]).alias("redacted_fp"),
    )


#: Fixed query terms for the declared BM25 query (present in fixtures).
BM25_QUERY_TERMS: tuple[str, ...] = ("hash", "join", "vector")


def bm25_scores(
    documents: DataFrame,
    query_terms: tuple[str, ...],
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 relevance of every document against a bag of query
    terms (Robertson & Zaragoza, "The probabilistic relevance
    framework: BM25 and beyond", FnTIR 2009).

    Fully relational formulation — no inverted index needed at query
    time because Spark IS the inverted index builder: explode terms →
    tf per (doc, term) [one shuffle], df per term + corpus stats
    [aggregations over the same exploded frame], then a broadcast join
    of the tiny per-term idf table back onto the tf rows. All
    intermediates (tf, df, doc length) are exact integers; only the
    final transcendental scoring is floating point.

    At scale the tf/df tables are computed once at ingest and stored
    (partitioned by term); the per-query work is then a broadcast
    lookup + one aggregation over the matching postings.
    """
    from node_js_etl_processor_spark.catalog import spread

    # explode_outer + isNotNull: keeps InferFiltersFromGenerate from
    # adding a pushed-down size(tokenize(text)) > 0 pre-filter that
    # tokenizes every document twice (linear here, not quadratic —
    # but still a full extra pass over the corpus)
    toked = (
        spread(documents)
        .select("doc_id", F.explode_outer(tokens(F.lower(F.col("text")))).alias("term"))
        .filter(F.col("term").isNotNull())
    )
    tf = toked.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    doclen = toked.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = doclen.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )

    qterms = [t.lower() for t in query_terms]
    df = (
        tf.filter(F.col("term").isin(qterms))
        .groupBy("term")
        .agg(F.count("*").alias("df"))
    )
    idf = df.crossJoin(F.broadcast(stats)).select(
        "term",
        F.log(
            (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
        ).alias("idf"),
        "avgdl",
    )
    scored = (
        tf.filter(F.col("term").isin(qterms))
        .join(doclen, "doc_id")
        .join(F.broadcast(idf), "term")
        .select(
            "doc_id",
            (
                F.col("idf")
                * (F.col("tf") * (k1 + 1))
                / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))
            ).alias("term_score"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.round(F.sum("term_score"), 4).alias("bm25")
    )


def bm25_scores_narrow(
    documents: DataFrame,
    query_terms: tuple[str, ...],
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 without the postings explode: for a SMALL fixed term set,
    per-term tf is ``size(filter(toks, t == term))`` and doc length is
    ``size(toks)`` — one narrow codegen pass over the bound token
    array, then a single global aggregate for (N, avgdl, df) broadcast
    back. Zero explodes, one tiny shuffle; measured ~2.5x faster than
    the postings form at sf0.1.

    Identical output to ``bm25_scores`` (asserted in tests). Use THAT
    form when the term set is large or unbounded (ad-hoc search): k
    array passes per doc lose to one explode once k is big, and at
    ingest time you want the materialized postings anyway.
    """
    from node_js_etl_processor_spark.catalog import spread

    qterms = [t.lower() for t in query_terms]

    def _eq(qv: str):
        # single-arg closure: a 2-arg lambda would be read as the
        # (element, index) filter variant and compare token to index
        return lambda t: t == F.lit(qv)

    toked = spread(documents).select(
        "doc_id", tokens(F.lower(F.col("text"))).alias("toks")
    )
    counted = toked.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("dl"),
        *[
            F.size(F.filter(F.col("toks"), _eq(q))).cast("bigint").alias(f"tf_{i}")
            for i, q in enumerate(qterms)
        ],
    )
    stats = counted.agg(
        F.count("*").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("bigint")).alias(f"df_{i}")
            for i in range(len(qterms))
        ],
    )
    per_term = [
        (
            F.log(
                (F.col("n_docs") - F.col(f"df_{i}") + 0.5) / (F.col(f"df_{i}") + 0.5)
                + 1.0
            )
            * (F.col(f"tf_{i}") * (k1 + 1))
            / (F.col(f"tf_{i}") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))
        )
        for i in range(len(qterms))
    ]
    total = per_term[0]
    for t in per_term[1:]:
        total = total + t
    return (
        counted.crossJoin(F.broadcast(stats))
        .filter(F.greatest(*[F.col(f"tf_{i}") for i in range(len(qterms))]) > 0)
        .select("doc_id", F.round(total, 4).alias("bm25"))
    )


def q_bm25(documents: DataFrame) -> DataFrame:
    """Declared query: BM25 top-20 documents for the fixed query terms
    (oracle-checked — the formula is pure arithmetic over exact integer
    tf/df/length inputs, identical in both engines; transcendental
    outputs don't sit on rounding boundaries the way money ratios do).
    Uses the narrow fixed-term formulation; the postings form
    (bm25_scores) is the ad-hoc/ingest path.
    """
    return (
        bm25_scores_narrow(documents, BM25_QUERY_TERMS)
        .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(20)
    )


# ------------------------------------------- curation capstone (filter→pack)


def curation_keep(text: Column, lang: Column) -> Column:
    """The combined quality gate of the curation capstone — Gopher
    document rules (Rae et al. 2021 §A1.1) ∧ C4 page rules (Raffel et
    al. 2020 §2.2, minus the line-retention rule: the synthetic corpus
    is single-line word soup and that rule alone would empty the
    pipeline — it stays covered standalone by ``q_c4_rules`` and unit
    tests) ∧ the fixed-weight classifier at logit ≥ 0. One narrow
    boolean expression; every sub-rule is the exact expression its
    standalone query uses."""
    r = gopher_rules(text)
    gopher_ok = (
        r["n_words"].between(5, 10_000)
        & F.coalesce(r["mean_word_len"].between(2.0, 12.0), F.lit(False))
        & F.coalesce(r["symbol_ratio"] <= 0.1, F.lit(False))
        & F.coalesce(r["bullet_ratio"] < 0.3, F.lit(False))
        & F.coalesce(r["alpha_word_ratio"] >= 0.7, F.lit(False))
    )
    c4_ok = (
        (lang == "en")
        & (F.size(tokens(text)) >= 30)
        & ~text.contains("{")
        & ~F.lower(text).contains("lorem ipsum")
    )
    return gopher_ok & c4_ok & (quality_logit(text) >= 0)


def q_curation_pipeline(documents: DataFrame) -> DataFrame:
    """THE end-to-end training-data path, as ONE composed plan:
    quality-gate (Gopher ∧ C4 ∧ classifier — ``curation_keep``) →
    64/16 token chunking → exact chunk dedup by md5 fingerprint
    (keeper = smallest (doc_id, chunk_id)) → 256-token/32-shard
    sequence packing → per-shard packing stats with the surviving
    document count. Fully oracle-checked.

    Every stage exists standalone (q_gopher_rules / q_c4_rules /
    q_quality_classifier / q_chunk_documents / q_chunk_pack_pipeline);
    this query is their composition with no materialization boundary —
    what a user actually runs nightly over a crawl drop.

    Scale shape: the three gates fuse into the scan as one narrow
    boolean projection (a doc that fails is never chunked — the
    filter runs BEFORE the explode multiplies rows), then exactly TWO
    keyed exchanges: chunk_fp for the dedup window, shard for the
    packing window; the final per-shard aggregation reuses the shard
    partitioning (plan-pinned in tests/test_plans.py).
    """
    kept = documents.filter(curation_keep(F.col("text"), F.col("lang"))).select(
        "doc_id", "text"
    )
    chunks = chunk_documents(kept).withColumn("chunk_fp", F.md5(F.col("chunk_text")))
    return curation_compact(chunks)


def curation_compact(chunks: DataFrame) -> DataFrame:
    """The dedup+pack SUFFIX of the curation capstone, over an
    already-gated-and-chunked frame (doc_id, chunk_id, n_tokens,
    chunk_text, chunk_fp): exact chunk dedup by fingerprint (keeper =
    smallest (doc_id, chunk_id)), 256-token/32-shard packing, per-shard
    stats. Shared verbatim by ``q_curation_pipeline`` (batch, fused
    with the gate+chunk prefix) and ``streaming.curation.
    compact_landing_zone`` (the batch-compact half of the incremental-
    ingest split) — equality of the two paths on the same documents is
    by construction, and pinned by test anyway.

    Scale shape: the capstone's TWO keyed exchanges both live here —
    chunk_fp for the dedup window, shard for the packing window; the
    final per-shard aggregation reuses the shard partitioning."""
    from pyspark.sql.window import Window

    survivors = (
        chunks.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("chunk_fp").orderBy("doc_id", "chunk_id")
            ),
        )
        .filter(F.col("rn") == 1)
        .drop("rn", "chunk_text", "chunk_fp")
    )
    packed = pack_chunks(survivors)
    # bin_id is a running floor(cum_tokens/budget) — monotone from 0
    # within each shard — so the bin count is max(bin_id)+1 WITHOUT a
    # distinct: two different count_distincts in one agg would force an
    # Expand plan with an extra (shard,bin,doc,gid) exchange; one
    # distinct (n_docs) planned alone reuses the shard partitioning
    n_bins = F.max("bin_id") + F.lit(1)
    return (
        packed.groupBy("shard")
        .agg(
            F.count_distinct(F.col("doc_id")).cast("bigint").alias("n_docs"),
            F.count("*").alias("n_chunks"),
            n_bins.cast("bigint").alias("n_bins"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.sum("n_tokens") / (n_bins * F.lit(256.0)), 6).alias("avg_fill"),
        )
        .orderBy("shard")
    )


# ---------------------------------------------------- HTML text extraction


def html_escape(text: Column) -> Column:
    """Minimal HTML escaping (&, <, > — ampersand FIRST so later
    entities aren't double-escaped). Used by the declared query to
    build a well-formed page around fixture text so extraction is a
    provable roundtrip."""
    return F.replace(
        F.replace(
            F.replace(text, F.lit("&"), F.lit("&amp;")),
            F.lit("<"),
            F.lit("&lt;"),
        ),
        F.lit(">"),
        F.lit("&gt;"),
    )


def html_extract(html: Column) -> Column:
    """Extract visible text from an HTML string — the standard first
    stage of a web-crawl training pipeline (the trafilatura/jusText
    slot, reduced to its deterministic core so both engines replay it
    bit-for-bit):

    1. drop the <head> ELEMENT (title/meta are page metadata, not
       training text), then <script>/<style> elements including their
       content (inline JS/CSS — script can appear in body too) — lazy
       dot-all matches, case-insensitive;
    2. drop comments, then strip every remaining tag to a SPACE (so
       `</p><p>` never glues two words);
    3. decode the common entities (&lt; &gt; &quot; &#39; &nbsp;,
       and &amp; LAST — the inverse of escape order);
    4. collapse whitespace runs and trim.

    Pure Column regexp chain: narrow, codegen'd, no shuffle — at
    100 TB this runs at scan bandwidth alongside the quality gates.
    The same steps are expressed in DuckDB by the oracle (Java regex
    and RE2 agree on every construct used: (?is) flags, lazy .*?,
    negated classes)."""
    no_head = F.regexp_replace(html, r"(?is)<head[^>]*>.*?</head>", " ")
    no_script = F.regexp_replace(no_head, r"(?is)<script[^>]*>.*?</script>", " ")
    no_style = F.regexp_replace(no_script, r"(?is)<style[^>]*>.*?</style>", " ")
    no_comment = F.regexp_replace(no_style, r"(?s)<!--.*?-->", " ")
    no_tags = F.regexp_replace(no_comment, r"<[^>]+>", " ")
    decoded = F.replace(
        F.replace(
            F.replace(
                F.replace(
                    F.replace(no_tags, F.lit("&lt;"), F.lit("<")),
                    F.lit("&gt;"),
                    F.lit(">"),
                ),
                F.lit("&quot;"),
                F.lit('"'),
            ),
            F.lit("&#39;"),
            F.lit("'"),
        ),
        F.lit("&nbsp;"),
        F.lit(" "),
    )
    decoded = F.replace(decoded, F.lit("&amp;"), F.lit("&"))
    return F.trim(F.regexp_replace(decoded, r"\s+", " "))


def wrap_html(doc_id: Column, text: Column, source: Column) -> Column:
    """Deterministic page builder for the declared query: escaped
    fixture text inside a realistic page skeleton (head with title,
    inline script with entities-worth characters, style block, h1,
    comment, paragraph body, footer div). Extraction must recover
    'DOC {id} {text} SOURCE {source}' exactly."""
    return F.concat(
        F.lit("<html><head><title>doc</title>"),
        F.lit('<script type="text/javascript">if (a && b < 3) { go("x"); }</script>'),
        F.lit("<style>p { color: #333; }</style></head>"),
        F.lit("<body><h1>DOC "),
        doc_id.cast("string"),
        F.lit("</h1><!-- crawler: drop this --><p>"),
        html_escape(text),
        F.lit('</p><div class="footer">SOURCE&nbsp;'),
        source,
        F.lit("</div></body></html>"),
    )


def q_html_extract(documents: DataFrame) -> DataFrame:
    """Declared query: HTML boilerplate-strip / text extraction. The
    query builds a deterministic page around each document's escaped
    text (``wrap_html``) and extracts it back (``html_extract``),
    emitting the recovered text's md5 plus length accounting and the
    text-to-markup ratio (the classic boilerplate-density quality
    signal). Fully oracle-checked: DuckDB rebuilds the page AND
    replays the extraction chain, so script/style elision, tag
    stripping, entity decode and whitespace collapse are all
    differentially verified. A unit test separately pins the semantic
    roundtrip (extracted == 'DOC {id} {text} SOURCE {source}')."""
    html = wrap_html(F.col("doc_id"), F.col("text"), F.col("source"))
    extracted = html_extract(html)
    return documents.select(
        "doc_id",
        F.md5(F.encode(extracted, "UTF-8")).alias("text_md5"),
        F.length(html).cast("bigint").alias("n_html_chars"),
        F.length(extracted).cast("bigint").alias("n_text_chars"),
        F.round(F.length(extracted) / F.length(html), 6).alias("text_ratio"),
    )


# ------------------------------------------------------ URL normalization


def normalize_url(url: Column) -> Column:
    """Canonicalize a URL for dedup keying — the other standard entry
    stage of a crawl pipeline (URL-level dedup runs before content
    dedup because it needs no text comparison at all):

    1. trim + drop the fragment (`#...` is client-side only);
    2. lowercase the scheme+host part (paths stay case-sensitive);
    3. fold http→https and strip a leading `www.`;
    4. strip default ports (`:80`/`:443` before a path or at end);
    5. drop tracking params (`utm_*`, `fbclid`, `gclid`) and repair
       the separator (`?&`→`?`, trailing `?`/`&` stripped);
    6. strip one trailing slash.

    Pure Column regexp chain (narrow, codegen); every pattern is
    lookaround-free so the DuckDB oracle can replay it under RE2.
    r8: stripping a tracking param that appears FIRST in a mixed
    query string (`?utm_x=1&real=2`) used to leave an `&`-led
    remainder (`...&real=2`) — a malformed canonical key that split
    otherwise-identical URLs at a real crawl frontier. The
    `^([^?&]*)&` → `$1?` repair promotes the first `&` of a
    `?`-less remainder back to `?` (anchored, so the no-'g'
    DuckDB replay is identical)."""
    u = F.regexp_replace(F.trim(url), r"#.*$", "")
    head = F.lower(F.regexp_extract(u, r"(?i)^(https?://[^/?#]*)", 1))
    tail = F.regexp_replace(u, r"(?i)^https?://[^/?#]*", "")
    u = F.concat(head, tail)
    u = F.regexp_replace(u, r"^http://", "https://")
    u = F.regexp_replace(u, r"^https://www\.", "https://")
    u = F.regexp_replace(u, r":(80|443)(/|$)", "$2")
    u = F.regexp_replace(u, r"[?&](utm_[^&#=]*|fbclid|gclid)(=[^&#]*)?", "")
    u = F.regexp_replace(u, r"^([^?&]*)&", "$1?")
    u = F.regexp_replace(u, r"\?&", "?")
    u = F.regexp_replace(u, r"[?&]$", "")
    return F.regexp_replace(u, r"/$", "")


def q_url_dedup(documents: DataFrame) -> DataFrame:
    """Declared query: URL-level dedup over a deterministic frontier.
    Each document derives a messy URL variant (scheme/www/port case
    differences, tracking params, fragments, trailing slashes — all
    varied by doc_id) pointing at one of 50 canonical pages per
    source; normalization must collapse every variant group to its
    canonical key. Emits per-canonical-URL group size and keeper
    (min doc_id) — the crawl-frontier dedup record. Fully
    oracle-checked: DuckDB rebuilds the same variants and replays the
    same normalization chain, so every rule is differentially
    verified across ~500 URLs per run."""
    variant = F.concat(
        # scheme/host casing + www by doc_id % 4
        F.element_at(
            F.array(
                F.lit("https://"),
                F.lit("HTTP://WWW."),
                F.lit("http://"),
                F.lit("https://www."),
            ),
            (F.col("doc_id") % 4).cast("int") + 1,
        ),
        F.upper(F.col("source")),
        F.lit(".example.com"),
        # default port on some variants
        F.when(F.col("doc_id") % 5 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/Docs/page-"),
        (F.col("doc_id") % 50).cast("string"),
        # junk tail by doc_id % 4: nothing / tracking params / fragment
        # / trailing slash
        F.element_at(
            F.array(
                F.lit(""),
                F.lit("?utm_source=feed&utm_campaign=x"),
                F.lit("#section-2"),
                F.lit("/"),
                # r8: tracking param FIRST in a mixed query string —
                # the case the leading-& repair exists for; its
                # canonical key keeps ?page=2 (a real param)
                F.lit("?utm_medium=rss&page=2"),
            ),
            (F.floor(F.col("doc_id") / F.lit(4)).cast("bigint") % 5).cast("int")
            + 1,
        ),
    )
    canon = normalize_url(variant)
    return (
        documents.select("doc_id", canon.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count("*").cast("bigint").alias("n_dups"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
    )


# ------------------------------------------------------- dataset stats card


def q_corpus_stats(documents: DataFrame) -> DataFrame:
    """Declared query: the dataset-card stats block — per-source doc/
    token/char totals, language breadth, exact interpolated token
    percentiles (p50/p90, matching DuckDB quantile_cont — at 100 TB
    swap approx_percentile's t-digest, same call shape), and each
    source's share of corpus tokens. Two stages, both cheap: one
    narrow per-doc projection + one keyed aggregation; the share
    window runs over the k-row AGGREGATED frame only (the module's
    aggregated-frame-window discipline). Fully oracle-checked."""
    from pyspark.sql.window import Window

    per_doc = documents.select(
        "source",
        "lang",
        token_count(F.col("text")).alias("n_tokens"),
        F.length("text").cast("bigint").alias("n_chars"),
    )
    agg = per_doc.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.round(F.percentile("n_tokens", F.lit(0.5)), 4).alias("p50_tokens"),
        F.round(F.percentile("n_tokens", F.lit(0.9)), 4).alias("p90_tokens"),
    )
    return agg.withColumn(
        "token_share",
        F.round(
            F.col("total_tokens") / F.sum("total_tokens").over(Window.partitionBy()),
            6,
        ),
    )


#: Input-size ceiling (bytes, parquet scan estimate) under which the
#: bigram LM's DOC-KEYED scoring join may hint a broadcast. The hinted
#: side is the per-doc aggregate (doc_id, bigint, double ≈ 24 B/row),
#: corpus-cardinality — unlike the vocabulary-sized count tables it is
#: NOT size-bounded by construction, so the hint must be gated: 1 GiB
#: of compressed document parquet is at most a few million docs ≈ tens
#: of MB broadcast, far inside the 8 GiB/512M-row relation cap; past
#: the gate the planner's keyed shuffle takes over (the 100 TB form).
#: Env-overridable so a cluster profile can retune without code edits.
LM_DOC_BROADCAST_MAX_INPUT_BYTES = int(
    os.environ.get("SPARK_GRAFT_LM_DOC_BCAST_MAX", str(1 << 30))
)


def _scan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's size estimate for ``df`` (file-size based for parquet
    scans) — plan metadata only, no job. None when unavailable."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None


def q_lm_bigram_perplexity(documents: DataFrame, buckets: int = 3) -> DataFrame:
    """Declared query: interpolated BIGRAM LM perplexity bucketing —
    one model order closer to CCNet's KenLM than ``q_lm_perplexity``:

        p(w_i | w_{i-1}) = 0.7·c(w_{i-1} w_i)/c(w_{i-1}·)
                         + 0.3·c(w_i)/T      (Jelinek-Mercer
                                              interpolation, fixed λ)

    with the document's FIRST token scored by the unigram term alone
    (no history), so every token contributes exactly one nll term and
    per-doc avg_nll is Σnll / n_tokens. Token-less documents are
    excluded (no likelihood), single-token documents score on the
    unigram term only. Fully oracle-checked: DuckDB rebuilds bigram /
    history / unigram counts and replays the same float expression in
    the same operation order (ulp-level sum-order noise sits ~7
    orders below the 6-digit rounding).

    Scale shape: bigrams come from ONE per-row array transform —
    never a token-level self-join or a token-frame window sort. Three
    keyed aggregations (bigram, history, unigram — the latter two
    vocabulary-sized), probability tables broadcast into the scoring
    joins (CCNet caps its LM vocab, keeping these broadcastable; drop
    the hints at uncapped scale and keyed shuffles take over), and
    the ntile runs over the aggregated per-doc frame only.
    """
    from pyspark.sql.window import Window

    from node_js_etl_processor_spark.catalog import spread

    arr = tokens(F.col("text"))
    docs_t = spread(documents).select("doc_id", arr.alias("toks")).filter(
        F.size("toks") > 0
    )
    # sequence(1, size-1) MUST be gated on size > 1: for a single-token
    # doc Spark's sequence(1, 0) steps DOWN to [1, 0] and element_at(_, 0)
    # aborts the job — the when(...) (null otherwise) makes single-token
    # docs yield a null bigram array instead (same guard as
    # span_positions above)
    bg_arr = F.when(
        F.size("toks") > 1,
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - 1),
            lambda i: F.struct(
                F.element_at(F.col("toks"), i).alias("w1"),
                F.element_at(F.col("toks"), i + 1).alias("w2"),
            ),
        ),
    )
    # explode_outer + null-filter: the InferFiltersFromGenerate guard
    # (see q_lm_perplexity) — single-token docs yield a null bigram row
    # here and are re-joined via their first token below
    big = (
        docs_t.select("doc_id", F.explode_outer(bg_arr).alias("bg"))
        .filter(F.col("bg").isNotNull())
        .select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    )
    uni = (
        docs_t.select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").cast("bigint").alias("uc"))
    )
    total = F.sum("uc").over(Window.partitionBy()).cast("double")
    # the unigram and bigram count tables are vocabulary-sized (the
    # docstring's broadcastability argument) but were re-derived from
    # the corpus at every reference — uniprob feeds
    # both the bigram interpolation AND the first-token scoring, bcnt
    # feeds both the history fold and the probability join, so the
    # tokenize + explode chain ran 6x (6 documents scans / 30
    # exchanges in the final plan). Cutting the two count tables
    # brings that to the 4 passes the math actually needs; the
    # downstream joins keep their explicit broadcast hints (a
    # checkpointed RDD has no size statistics for the planner).
    uniprob = barrier.cut(
        uni.select("tok", (F.col("uc").cast("double") / total).alias("p_uni")),
        "text.lm_unigram_probs",
    )
    bcnt = barrier.cut(
        big.groupBy("w1", "w2").agg(F.count("*").cast("bigint").alias("bc")),
        "text.lm_bigram_counts",
    )
    hist = bcnt.groupBy("w1").agg(F.sum("bc").cast("bigint").alias("hc"))
    # one nll per distinct bigram: λ·(bc/hc) + (1−λ)·p_uni(w2)
    bprob = (
        bcnt.join(F.broadcast(hist), "w1")
        .join(F.broadcast(uniprob.withColumnRenamed("tok", "w2")), "w2")
        .select(
            "w1",
            "w2",
            (
                -F.log(
                    F.lit(0.7)
                    * (F.col("bc").cast("double") / F.col("hc").cast("double"))
                    + F.lit(0.3) * F.col("p_uni")
                )
            ).alias("nll"),
        )
    )
    big_doc = (
        big.join(F.broadcast(bprob), ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_bigrams"),
            F.sum("nll").alias("sum_nll"),
        )
    )
    firsts = docs_t.select(
        "doc_id",
        F.element_at("toks", 1).alias("tok"),
        F.size("toks").cast("bigint").alias("n_tokens"),
    ).join(F.broadcast(uniprob), "tok")
    # r21 (VERDICT r20 item 3): big_doc is a PER-DOCUMENT aggregate —
    # corpus-cardinality, not vocabulary-sized — so its broadcast hint
    # must be bounded, not unconditional (an in-code caveat is not
    # enforcement; at 100 TB an unconditional hint is a driver OOM).
    # The gate reads Catalyst's file-size estimate of the documents
    # scan (plan metadata, no job): under the ceiling the hint
    # restores the pre-checkpoint plan (the checkpointed probability
    # tables carry no size statistics, which otherwise demotes this
    # doc-keyed join to sort-merge); over it the planner's keyed
    # shuffle takes over — the scale form the docstring describes.
    in_sz = _scan_size_bytes(documents)
    big_doc_side = (
        F.broadcast(big_doc)
        if in_sz is not None and in_sz <= LM_DOC_BROADCAST_MAX_INPUT_BYTES
        else big_doc
    )
    per_doc = (
        firsts.join(big_doc_side, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.round(
                (
                    -F.log(F.col("p_uni"))
                    + F.coalesce(F.col("sum_nll"), F.lit(0.0))
                )
                / F.col("n_tokens").cast("double"),
                6,
            ).alias("avg_nll"),
        )
    )
    w = Window.orderBy(F.col("avg_nll").asc(), F.col("doc_id").asc())
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "avg_nll",
        F.round(F.exp(F.col("avg_nll")), 4).alias("perplexity"),
        F.ntile(buckets).over(w).cast("bigint").alias("ppl_bucket"),
    )


def q_tfidf(documents: DataFrame, k: int = 5) -> DataFrame:
    """Per-document top-k TF-IDF terms (r8) — the classic salient-term
    extractor (sklearn's smooth-idf form: idf = ln((1+N)/(1+df)) + 1),
    complementing the query-driven BM25 ranker with a query-free
    per-doc signature (keyword tagging / topic drift monitoring in a
    corpus pipeline).

    Scale shape: one explode → (doc, term) tf agg → term-keyed df agg
    — the df table is vocabulary-sized and BROADCAST back into the
    scoring join, N rides a 1-row broadcast cross join; the top-k
    window partitions BY DOCUMENT, so frames are per-doc vocabularies,
    never the corpus. Deterministic: ties break (score desc, term
    asc). Token-less docs are absent (no terms, no likelihood of
    any).
    """
    from pyspark.sql.window import Window

    from node_js_etl_processor_spark.catalog import spread

    toked = (
        spread(documents)
        .select("doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("term"))
    )
    # one tokenize+explode pass instead of three. tf is referenced by
    # the df aggregation AND the scoring join, and n_docs re-derived
    # the exploded frame a third time; the cut (doc_id, term, tf)
    # frame is the postings table the bm25 index stores, and n_docs =
    # distinct doc_id over it is the same count (docs with >= 1 term)
    # by construction.
    tf = barrier.cut(
        toked.groupBy("doc_id", "term")
        .agg(F.count("*").cast("bigint").alias("tf")),
        "text.q_tfidf_tf",
    )
    dft = tf.groupBy("term").agg(F.count("*").cast("bigint").alias("df"))
    n_docs = tf.select("doc_id").distinct().agg(
        F.count("*").cast("bigint").alias("n_docs")
    )
    scored = (
        tf.join(F.broadcast(dft), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "tf",
            F.round(
                F.col("tf")
                * (
                    F.log(
                        (F.lit(1.0) + F.col("n_docs"))
                        / (F.lit(1.0) + F.col("df"))
                    )
                    + F.lit(1.0)
                ),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select("doc_id", F.col("_rn").cast("bigint").alias("rank"), "term", "tf", "tfidf")
    )


def q_kl_divergence(documents: DataFrame) -> DataFrame:
    """Per-source token-distribution divergence from the corpus (r8):
    KL(P_source ‖ P_corpus) = Σ_t p_s(t)·ln(p_s(t)/p_c(t)) — the
    domain-mixing diagnostic of a training-data pipeline (how far each
    source's unigram distribution sits from the blend it feeds; the
    Wenzek et al. CCNet lens at the source level). Every source term
    exists in the corpus by construction (corpus ⊇ source), so the
    ratio is always defined — no smoothing needed.

    Scale shape: one explode → (source, term) counts → term-keyed
    corpus counts joined back BROADCAST (vocabulary-sized), per-source
    totals via a window over the aggregated (source, term) frame, one
    final keyed sum. Fully oracle-checked with the same tokenizer and
    float-op order as the tfidf/bm25 oracles."""
    from pyspark.sql.window import Window

    from node_js_etl_processor_spark.catalog import spread

    toked = spread(documents).select(
        "source", F.explode(tokens(F.lower(F.col("text")))).alias("term")
    )
    st = toked.groupBy("source", "term").agg(
        F.count("*").cast("bigint").alias("n_st")
    )
    ct = st.groupBy("term").agg(F.sum("n_st").cast("bigint").alias("n_ct"))
    tot_s = F.sum("n_st").over(Window.partitionBy("source"))
    # corpus total = Σ n_st over ALL rows (n_ct repeats once per
    # source carrying the term — summing it would overcount)
    tot_c = F.sum("n_st").over(Window.partitionBy())
    scored = (
        st.join(F.broadcast(ct), "term")
        .withColumn("p_s", F.col("n_st") / tot_s)
        .withColumn("p_c", F.col("n_ct") / tot_c)
    )
    return (
        scored.groupBy("source")
        .agg(
            F.sum("n_st").cast("bigint").alias("n_tokens"),
            F.round(
                F.sum(F.col("p_s") * F.log(F.col("p_s") / F.col("p_c"))), 6
            ).alias("kl_vs_corpus"),
        )
        .orderBy("source")
    )
