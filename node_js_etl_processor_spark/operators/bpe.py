"""Corpus-scale BPE tokenizer training as DataFrame ops.

Byte-pair-encoding merge training (Sennrich, Haddow & Birch 2016 —
the subword vocabulary construction behind most LLM tokenizers) is a
training-DATA-pipeline operator as much as a model one: vocabularies
are trained on the corpus the pipeline curates. The shape maps onto
Spark cleanly because the working set after the first pass is the
WORD-FREQUENCY table (vocabulary-sized), never the corpus:

- ``word_frequencies``: the single corpus-sized pass (tokenize →
  groupBy word — one shuffle with map-side partials);
- ``bpe_pair_counts``: adjacent-symbol pair statistics in one
  explode + keyed agg over the vocabulary frame;
- ``bpe_apply_merge``: one merge applied to every word via an
  ``aggregate`` fold (JVM-side higher-order function — greedy
  left-to-right, exactly the reference algorithm's non-overlapping
  regex replace; no Python in the loop);
- ``bpe_train``: the driver loop — per merge step one argmax
  round-trip (a 1-row ``first()``, the kmeans_train trainer
  discipline: parameter-sized, n_merges of them) and a
  ``barrier.cut`` so the fold expressions never stack;
- ``bpe_encode``: Arrow-batched inference (mapInPandas) applying the
  learned merge list per document — the per-row kernel side, batch
  equivalence with the JVM fold test-pinned.

Determinism: pair argmax ties break on (count DESC, a ASC, b ASC), so
training is reproducible and the FIRST step (``bpe_top_pairs``) is
fully SQL-expressible — a DuckDB-oracle-able declared query.

Symbols operate on Java string code units (the fixture corpus is
BMP text); byte-level BPE (GPT-2 style) would swap the initial
alphabet for bytes, same operators.

No reference parity (server.js has no tokenizer); this module belongs
to the mandated LLM-pipeline extension surface (SURVEY.md §2).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from node_js_etl_processor_spark.functions import barrier
from node_js_etl_processor_spark.operators.text import tokens

#: End-of-word marker (Sennrich 2016 §3.2) — distinguishes "est</w>"
#: in "west" from "est" in "estimate".
EOW = "</w>"


def word_frequencies(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq) over the lowercased whitespace tokenization — the
    one corpus-sized pass; everything downstream is vocabulary-sized."""
    return (
        documents.select(
            F.explode(tokens(F.lower(F.col(text_col)))).alias("word")
        )
        .groupBy("word")
        .agg(F.count("*").cast("bigint").alias("freq"))
    )


def _to_symbols(word: Column) -> Column:
    # zero-width split BETWEEN characters -> one symbol per code unit
    # (the (?=.) guard stops Spark's limit=-1 split from emitting a
    # trailing "" at end-of-string), + EOW
    return F.concat(F.split(word, r"(?!^)(?=.)"), F.array(F.lit(EOW)))


def bpe_init_vocab(word_freqs: DataFrame) -> DataFrame:
    """(word, symbols, freq): every word as its character sequence
    plus the end-of-word marker — merge state zero."""
    return word_freqs.select(
        "word", _to_symbols(F.col("word")).alias("symbols"), "freq"
    )


def bpe_pair_counts(vocab: DataFrame) -> DataFrame:
    """Adjacent-pair frequencies over the vocabulary frame: one
    array-transform explode + one (a, b)-keyed agg. Pair multiplicity
    within a word counts (each adjacent occurrence explodes to a
    row), weighted by word frequency."""
    # slice+zip instead of sequence(1, size-1): a fully-merged word's
    # symbols can collapse to ONE element (merges with </w>), where
    # sequence(1, 0) would DESCEND to [1, 0]; slice length 0 is just []
    n1 = F.size("symbols") - 1
    pairs = F.arrays_zip(
        F.slice("symbols", 1, n1).alias("a"),
        F.slice("symbols", 2, n1).alias("b"),
    )
    return (
        vocab.select("freq", F.explode(pairs).alias("p"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("freq").alias("pair_freq"))
    )


def bpe_top_pairs(documents: DataFrame, k: int = 20) -> DataFrame:
    """First-step pair statistics straight off the corpus — top-k
    (pair_freq DESC, a ASC, b ASC). Pure relational chain end to end,
    so it carries a full SQL oracle when declared."""
    pc = bpe_pair_counts(bpe_init_vocab(word_frequencies(documents)))
    return pc.orderBy(
        F.col("pair_freq").desc(), F.col("a").asc(), F.col("b").asc()
    ).limit(k)


def bpe_apply_merge(vocab: DataFrame, a: str, b: str) -> DataFrame:
    """One merge (a, b) -> ab applied to every word: a greedy
    left-to-right fold over the symbol array — ``aggregate`` keeps it
    a JVM codegen expression. Equivalent to the reference
    implementation's non-overlapping regex replace: after merging,
    the new tail symbol is "ab", which never re-matches ``a`` (b is
    non-empty), so overlaps resolve leftmost exactly like the
    original algorithm ("aaa" + (a,a) -> ["aa", "a"])."""
    merged = a + b
    folded = F.aggregate(
        F.col("symbols"),
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )
    return vocab.select("word", folded.alias("symbols"), "freq")


def bpe_train(
    documents: DataFrame,
    n_merges: int = 100,
    min_pair_freq: int = 2,
    text_col: str = "text",
    driver_vocab_cap: int = 200_000,
    driver_vocab_char_cap: int = 2_000_000,
) -> "tuple[list, DataFrame]":
    """Learn ``n_merges`` merges. Stops early when the best pair
    drops under ``min_pair_freq`` (merging hapax pairs memorizes
    noise). Returns (merges, final_vocab): merges as
    [(a, b, pair_freq)] in learned order — the artifact
    ``bpe_encode`` applies at inference.

    Two execution paths behind one corpus-sized pass: after
    ``word_frequencies`` the working set is the VOCABULARY table, and
    when it fits under ``driver_vocab_cap`` rows the merge loop runs
    on the collected dict — what production BPE trainers do, since
    every step is a full pass over the (tiny) vocabulary and the
    distributed loop pays 2 scheduler round-trips per merge for
    microseconds of work (measured: the 8-merge declared query spent
    ~2 s of its 3.3 s on 16 vocabulary-frame jobs). The collect is
    GATE-BOUNDED on BOTH rows and total characters
    (``driver_vocab_cap`` / ``driver_vocab_char_cap``): a corpus
    whose distinct-word count exceeds the row cap, OR whose words
    are long enough that the per-character symbol state would blow
    the driver heap anyway (150k URL-shaped 500-char words pass a
    row-only gate but cost gigabytes of per-char Python objects plus
    n_merges × O(total chars) interpreted passes), takes the distributed loop —
    per step one pair-count agg + one deterministic argmax (1-row
    ``first()``, the kmeans_train trainer discipline) + one
    ``aggregate``-fold merge, cut so folds never stack.

    Both paths are bit-identical by construction ON BMP TEXT: same
    integer pair sums, same (freq DESC, a ASC, b ASC) argmax (Python
    tuple order equals Spark's UTF8 binary order on the BMP symbols
    in play — the ``bpe_encode`` kernel already leans on this, and
    driver ``list(word)`` splits match ``_to_symbols``'s code-unit
    split for BMP text), same greedy left-to-right merge fold;
    equality is test-pinned across paths. OUTSIDE the BMP the splits
    genuinely diverge — ``_to_symbols``'s zero-width regex splits
    between the UTF-16 surrogates of an astral code point (two
    symbols per emoji, verified empirically) while Python's
    ``list(word)`` yields one code-point symbol — so the gate also
    routes ANY corpus containing supplementary-plane characters to
    the distributed loop (a conservative gate;
    ``astral_words`` rides the same statistics pass). The divergence
    itself is pinned in tests so the gate can't silently rot."""
    wf = barrier.cut(word_frequencies(documents, text_col), "bpe.word_frequencies")
    stats = wf.agg(
        F.count("*").alias("n"),
        F.coalesce(F.sum(F.length("word")), F.lit(0)).alias("chars"),
        # supplementary-plane detection for the BMP routing gate:
        # one regex scan per DISTINCT word, riding
        # the same single pass as the size statistics
        F.coalesce(
            F.sum(
                F.col("word").rlike("[\\x{10000}-\\x{10FFFF}]").cast("int")
            ),
            F.lit(0),
        ).alias("astral_words"),
    ).first()
    if (
        stats["n"] <= driver_vocab_cap
        and stats["chars"] <= driver_vocab_char_cap
        and stats["astral_words"] == 0
    ):
        return _bpe_train_driver(wf, n_merges, min_pair_freq)
    vocab = barrier.cut(bpe_init_vocab(wf), "bpe.init_vocab")
    merges: list = []
    for _ in range(n_merges):
        best = (
            bpe_pair_counts(vocab)
            .orderBy(F.col("pair_freq").desc(), F.col("a").asc(), F.col("b").asc())
            .first()
        )
        if best is None or best["pair_freq"] < min_pair_freq:
            break
        merges.append((best["a"], best["b"], int(best["pair_freq"])))
        vocab = barrier.cut(
            bpe_apply_merge(vocab, best["a"], best["b"]), "bpe.apply_merge"
        )
    return merges, vocab


def _bpe_train_driver(
    word_freqs: DataFrame, n_merges: int, min_pair_freq: int
) -> "tuple[list, DataFrame]":
    """The merge loop over a COLLECTED (word, freq) table — the
    under-cap path of ``bpe_train`` (which owns the size gate; see
    its docstring for the bit-identity argument). Returns the same
    (merges, final_vocab-as-DataFrame) contract."""
    rows = [(r["word"], r["freq"]) for r in word_freqs.collect()]
    state = [[list(w) + [EOW], f] for w, f in rows]
    merges: list = []
    for _ in range(n_merges):
        counts: dict = {}
        for syms, f in state:
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + f
        if not counts:
            break
        (a, b), freq = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if freq < min_pair_freq:
            break
        merges.append((a, b, int(freq)))
        for entry in state:
            syms = entry[0]
            out: list = []
            for x in syms:
                if out and out[-1] == a and x == b:
                    out[-1] = a + b
                else:
                    out.append(x)
            entry[0] = out
    spark = word_freqs.sparkSession
    vocab = spark.createDataFrame(
        [(w, st[0], st[1]) for (w, _f), st in zip(rows, state)],
        "word string, symbols array<string>, freq bigint",
    )
    return merges, vocab


def bpe_encode(
    documents: DataFrame,
    merges: "list",
    text_col: str = "text",
    carry_cols: "tuple[str, ...]" = (),
) -> DataFrame:
    """Arrow-batched inference: segment every document with a learned
    merge list (applied in order, greedy left-to-right within each
    word — the exact dual of training's fold). Emits (doc_id,
    n_words, n_bpe_tokens, tokens_sha) — the digest travels, not the
    token arrays, so Spark never shuffles segmented text. mapInPandas,
    zero shuffles, the multimodal batch shape.

    ``carry_cols`` names input columns to pass through the
    kernel unchanged — consumers that need per-doc metadata next to
    the counts (``token_accounting``'s source/estimate columns) get
    it without a corpus-sized self-join back onto the input."""
    import hashlib

    import pandas as pd

    from node_js_etl_processor_spark.catalog import spread

    ranks = {(a, b): i for i, (a, b, *_rest) in enumerate(merges)}

    def seg_word(word: str) -> "list[str]":
        syms = list(word) + [EOW]
        while len(syms) > 1:
            pairs = [
                (ranks.get((syms[i], syms[i + 1]), None), i)
                for i in range(len(syms) - 1)
            ]
            ranked = [(r, i) for r, i in pairs if r is not None]
            if not ranked:
                break
            rank = min(r for r, _ in ranked)
            a, b = merges[rank][0], merges[rank][1]
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    def run(batches):
        for pdf in batches:
            out = {"doc_id": [], "n_words": [], "n_bpe_tokens": [], "tokens_sha": []}
            for did, txt in zip(pdf["doc_id"], pdf[text_col]):
                words = (txt or "").lower().split()
                toks: list = []
                for w in words:
                    toks.extend(seg_word(w))
                out["doc_id"].append(did)
                out["n_words"].append(len(words))
                out["n_bpe_tokens"].append(len(toks))
                out["tokens_sha"].append(
                    hashlib.sha256("\x1f".join(toks).encode()).hexdigest()
                )
            res = pd.DataFrame(out)
            for c in carry_cols:
                res[c] = pdf[c].values
            yield res

    base = spread(documents).select("doc_id", text_col, *carry_cols)
    carry_schema = "".join(
        f", {f.name} {f.dataType.simpleString()}"
        for f in base.schema.fields
        if f.name in carry_cols
    )
    return base.mapInPandas(
        run,
        "doc_id bigint, n_words bigint, n_bpe_tokens bigint, tokens_sha string"
        + carry_schema,
    )


def token_accounting(
    documents: DataFrame, merges: "list", text_col: str = "text"
) -> DataFrame:
    """Per-source token BUDGET: real BPE token counts (``bpe_encode``
    over a learned merge list) against the ~4-chars-per-token
    heuristic ``q_token_count`` budgets with — the accounting a
    training pipeline runs to turn a byte budget into a token budget
    and to see WHERE the heuristic misleads (error concentrates in
    sources whose length/morphology differ from the merge corpus).

    One encode pass (mapInPandas, zero shuffles — the per-doc source
    and heuristic ride THROUGH the kernel via ``carry_cols``, no
    corpus self-join) then one source-keyed agg with map-side
    partials. All outputs are exact integers (the money-average
    lesson: ratios are the consumer's division, not a lossy rounded
    column), so the form is oracle-hashable:

    (source, n_docs, bpe_tokens, est_tokens, abs_err — Σ|real−est|
    per doc, max_err) — e.g. est/bpe ≈ chars-per-token calibration
    per source, abs_err/bpe = budget error rate."""
    est = documents.withColumn(
        "est_tokens",
        F.floor((F.length(text_col) + F.lit(3)) / F.lit(4)).cast("bigint"),
    )
    enc = bpe_encode(est, merges, text_col, carry_cols=("source", "est_tokens"))
    err = F.abs(F.col("n_bpe_tokens") - F.col("est_tokens"))
    return enc.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_bpe_tokens").cast("bigint").alias("bpe_tokens"),
        F.sum("est_tokens").cast("bigint").alias("est_tokens"),
        F.sum(err).cast("bigint").alias("abs_err"),
        F.max(err).cast("bigint").alias("max_err"),
    )


#: Merge budget of the DECLARED token-budget query: small enough for
#: the DuckDB oracle to unroll training step by step, large enough
#: that the segmentation differs visibly from both characters and
#: whole words.
TOKEN_BUDGET_MERGES = 8


def q_token_budget(documents: DataFrame) -> DataFrame:
    """Declared query: train
    ``TOKEN_BUDGET_MERGES`` BPE merges on the corpus itself, encode
    the corpus, and report the per-source token budget vs the chars/4
    heuristic. The composed form of the declared ``q_bpe_pairs``
    first stage; its DuckDB oracle replays the FULL training unroll
    (delimited-string merge replay) plus the train==inference
    segmentation equivalence that is property-pinned in
    tests/test_extensions.py."""
    merges, _vocab = bpe_train(
        documents, n_merges=TOKEN_BUDGET_MERGES, min_pair_freq=2
    )
    return token_accounting(documents, merges)
