"""Semantic tests for the LLM-pipeline extension operators (the
rows-only queries the oracle can't check) + property-based checks."""

from __future__ import annotations

import math
import os
import sys

import pytest
from pyspark.sql import functions as F

from node_js_etl_processor_spark.catalog import load_table
from node_js_etl_processor_spark.operators import dedup, similarity
from node_js_etl_processor_spark.operators.multimodal import (
    DecodeUnavailable,
    decode_image,
    documents_as_media,
    extract_features,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "scripts"))


@pytest.fixture(scope="module")
def documents(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


@pytest.fixture(scope="module")
def embeddings(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


# ------------------------------------------------------------- dedup


def test_minhash_finds_planted_near_dups(spark):
    """Plant near-duplicate docs; LSH must surface them as candidates
    with high Jaccard."""
    base = ("the quick brown fox jumps over the lazy dog and runs far away "
            "into the deep green forest tonight").split()
    docs = [
        (1, " ".join(base)),
        (2, " ".join(base[:-1] + ["today"])),  # near-dup of 1
        (3, "completely different content about spark query engines and shuffles"),
        (4, " ".join(base)),  # exact dup of 1
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in dedup.q_dedup_minhash(df).collect()}
    assert (1, 4) in pairs and pairs[(1, 4)] == 1.0
    assert (1, 2) in pairs and pairs[(1, 2)] > 0.5
    assert (1, 3) not in pairs and (3, 4) not in pairs


def test_simhash_hamming_zero_for_identical(spark):
    docs = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta theta"),
        (3, "totally unrelated words appear here instead now"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in dedup.q_dedup_simhash(df).collect()}
    assert pairs.get((1, 2)) == 0


def test_simhash_deterministic_across_runs(documents):
    s1 = {(r["doc_id"], r["sig"]) for r in dedup.simhash_signatures(documents).collect()}
    s2 = {(r["doc_id"], r["sig"]) for r in dedup.simhash_signatures(documents).collect()}
    assert s1 == s2


def test_exact_dedup_count_invariant(documents):
    """Σ n_copies over dedup groups == total docs (no row lost)."""
    agg = dedup.q_dedup_docs(documents).agg(F.sum("n_copies")).first()[0]
    assert agg == documents.count()


# ---------------------------------------------------------- similarity


def test_brute_force_topk_is_exact(spark, embeddings):
    """Cross-check the JVM array-math cosine against NumPy on a sample."""
    import numpy as np

    probe = similarity._probe_vector(embeddings, 0)
    got = similarity.brute_force_topk(embeddings, probe, k=5, exclude_vec_id=0).collect()

    rows = embeddings.collect()
    p = np.array(probe)
    best = sorted(
        (
            (
                float(np.dot(e, p) / (np.linalg.norm(e) * np.linalg.norm(p))),
                r["vec_id"],
            )
            for r in rows
            if r["vec_id"] != 0
            for e in [np.array([float(x) for x in r["embedding"]])]
        ),
        key=lambda t: (-t[0], t[1]),
    )[:5]
    assert [r["vec_id"] for r in got] == [vid for _, vid in best]
    for r, (cos, _) in zip(got, best):
        assert math.isclose(r["cosine"], round(cos, 6), abs_tol=2e-6)


def test_ann_results_subset_of_exact_space(embeddings):
    """ANN returns valid scored rows; every ANN hit's cosine must equal
    the exact cosine for that vec_id (same scoring, pruned candidates)."""
    exact = {
        r["vec_id"]: r["cosine"]
        for r in similarity.q_similarity_topk(embeddings, k=500).collect()
    }
    ann = similarity.q_similarity_ann(embeddings).collect()
    assert len(ann) > 0
    for r in ann:
        assert math.isclose(exact[r["vec_id"]], r["cosine"], abs_tol=1e-9)


def test_pandas_batch_scorer_agrees_with_jvm(embeddings):
    probe = similarity._probe_vector(embeddings, 0)
    jvm = {r["vec_id"]: r["cosine"] for r in similarity.brute_force_topk(embeddings, probe, k=20).collect()}
    arrow = {
        r["vec_id"]: r["cosine"]
        for r in similarity.batch_cosine_pandas(embeddings, probe).collect()
    }
    for vid, cos in jvm.items():
        assert math.isclose(arrow[vid], cos, abs_tol=2e-6)


# ---------------------------------------------------------- multimodal


def test_media_plumbing_real_decode_stubbed(spark, documents):
    media = documents_as_media(documents)
    assert dict(media.dtypes)["payload"] == "binary"
    with pytest.raises(DecodeUnavailable):
        decode_image(b"\x89PNG")


def test_feature_extraction_mapinpandas(documents):
    media = documents_as_media(documents.limit(50))
    feats = extract_features(media)
    rows = feats.collect()
    assert len(rows) == 50
    assert all(r["feature_dim"] == 8 for r in rows)
    # deterministic: same payload → same feature
    again = {r["media_id"]: r["feature_l2"] for r in extract_features(media).collect()}
    for r in rows:
        assert again[r["media_id"]] == r["feature_l2"]


# ---------------------------------------------------- property checks


def test_projection_preserves_count(spark, sf_dir):
    from node_js_etl_processor_spark.operators import relational

    customer = load_table(spark, sf_dir, "customer")
    assert relational.q_clean_project(customer).count() == customer.count()
    assert relational.q_csv_export_shape(customer).count() == customer.count()


def test_trim_idempotent_on_output(spark, sf_dir):
    from node_js_etl_processor_spark.operators.relational import q_clean_project

    customer = load_table(spark, sf_dir, "customer")
    out = q_clean_project(customer)
    twice = out.select(F.trim("name").alias("name2"), "name")
    assert twice.filter(F.col("name") != F.col("name2")).count() == 0


def test_salted_join_equals_plain_join(spark, sf_dir):
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.functions.skew import salted_count, salted_join

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    fact = orders.select(F.col("o_custkey").alias("c_custkey"), "o_orderkey", "o_totalprice")

    plain = fact.join(customer, "c_custkey").select("o_orderkey", "c_mktsegment")
    salted = salted_join(
        fact, customer, key="c_custkey", entropy_col="o_orderkey", n_salts=4
    ).select("o_orderkey", "c_mktsegment")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))

    exact = {r["o_custkey"]: r["n"] for r in fact.groupBy(F.col("c_custkey").alias("o_custkey")).count().withColumnRenamed("count", "n").collect()}
    got = {r["c_custkey"]: r["n"] for r in salted_count(fact, "c_custkey", "o_orderkey", 4).collect()}
    assert got == exact


def test_ivf_recall_and_cell_partition(spark, sf_dir):
    """IVF: cells partition the corpus; probing 2/8 cells reaches
    useful recall vs the exact scan on the fixture embeddings."""
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators import similarity

    embeddings = load_table(spark, sf_dir, "embeddings")
    assigned = similarity.ivf_assign(embeddings, n_cells=8)
    assert assigned.count() == embeddings.count()
    assert assigned.filter(F.col("cell").isNull()).count() == 0
    assert assigned.select("cell").distinct().count() > 1

    probe = similarity._probe_vector(embeddings, 0)
    exact = {
        r["vec_id"]
        for r in similarity.brute_force_topk(
            embeddings, probe, k=10, exclude_vec_id=0
        ).collect()
    }
    got = similarity.ivf_topk(
        embeddings, probe, k=10, n_cells=8, n_probe_cells=4, exclude_vec_id=0
    ).collect()
    assert len(got) == 10
    # every IVF result must be a true vector with correct cosine (subset
    # of the search space), and recall@10 with half the cells probed
    # should be non-trivial on near-random fixtures
    assert len(exact & {r["vec_id"] for r in got}) >= 3


def test_upsert_snapshot_merge_semantics(spark):
    from node_js_etl_processor_spark.operators.merge import delete_keys, upsert_snapshot

    schema = "name string, state string, val long, updated_at long"
    current = spark.createDataFrame(
        [("A", "X", 1, 100), ("B", "Y", 2, 100), ("C", None, 3, 100)], schema
    )
    updates = spark.createDataFrame(
        [("A", "X", 10, 200),   # newer: replaces
         ("B", "Y", 20, 100),   # tie: update wins (upsert overwrite)
         ("D", "Z", 40, 50)],   # new key: insert (even if "older")
        schema,
    )
    got = {
        (r["name"], r["state"]): (r["val"], r["updated_at"])
        for r in upsert_snapshot(current, updates, ["name", "state"], "updated_at").collect()
    }
    assert got == {
        ("A", "X"): (10, 200),
        ("B", "Y"): (20, 100),
        ("C", None): (3, 100),
        ("D", "Z"): (40, 50),
    }

    after_del = delete_keys(
        upsert_snapshot(current, updates, ["name", "state"], "updated_at"),
        spark.createDataFrame([("A", "X")], "name string, state string"),
        ["name", "state"],
    )
    assert {r["name"] for r in after_del.collect()} == {"B", "C", "D"}


def test_winnowing_fingerprint_properties(spark):
    """Winnowing: identical docs share the signature; a doc sharing a
    long substring shares fingerprints; disjoint docs don't collide."""
    from node_js_etl_processor_spark.operators.text import (
        gram_hashes,
        q_winnow_fingerprint,
        winnow_minima,
    )

    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    other = "completely different content with zero overlapping character sequences"
    docs = spark.createDataFrame(
        [(0, base), (1, base), (2, base + " extra tail"), (3, other)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in q_winnow_fingerprint(docs).collect()}
    assert out[0]["winnow_sig"] == out[1]["winnow_sig"]  # exact dup collides
    assert out[0]["winnow_sig"] != out[3]["winnow_sig"]
    assert all(r["n_fingerprints"] > 0 for r in out.values())

    sets = {
        r["doc_id"]: set(r["mins"])
        for r in docs.select("doc_id", gram_hashes(F.col("text")).alias("grams"))
        .select("doc_id", winnow_minima(F.col("grams")).alias("mins"))
        .collect()
    }
    # shared-substring guarantee: doc 2 extends doc 0, so overlap is high
    inter = len(sets[0] & sets[2]) / len(sets[0] | sets[2])
    assert inter > 0.7
    assert len(sets[0] & sets[3]) == 0


def test_simhash_numpy_kernel_equals_jvm(documents):
    """The vectorized signature kernel must be bit-for-bit identical to
    the pure-JVM formulation (same hashes, same vote rule)."""
    a = {(r["doc_id"], r["sig"]) for r in dedup.simhash_signatures(documents).collect()}
    b = {
        (r["doc_id"], r["sig"])
        for r in dedup.simhash_signatures_numpy(documents).collect()
    }
    assert a == b


def test_simhash_excludes_tokenless_docs_no_mega_group(spark):
    """10k empty/whitespace docs must NOT form one giant sig=0 group:
    they are featureless, so they are excluded from near-dup pairing
    entirely, and the normal docs' pair output is unchanged."""
    normal = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta theta"),
        (3, "totally unrelated words appear here instead now"),
    ]
    empties = [(1000 + i, "" if i % 2 == 0 else "   \t  ") for i in range(10_000)]
    df = spark.createDataFrame(normal + empties, "doc_id long, text string")
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in dedup.q_dedup_simhash(df).collect()}
    assert pairs == {(1, 2): 0}

    # same fixture minus the empties gives the identical pair set
    base = spark.createDataFrame(normal, "doc_id long, text string")
    base_pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"] for r in dedup.q_dedup_simhash(base).collect()
    }
    assert pairs == base_pairs


def test_salted_join_rejects_outer_joins(spark):
    from node_js_etl_processor_spark.functions.skew import salted_join

    fact = spark.createDataFrame([(1, "x")], "k long, payload string")
    dim = spark.createDataFrame([(1, "d")], "k long, name string")
    with pytest.raises(ValueError, match="inner.*left"):
        salted_join(fact, dim, key="k", entropy_col="payload", how="right")


def test_spread_never_touches_rdd_and_passes_through_memory_frames(spark, sf_dir):
    """spread() must stay pure-DataFrame: file scans with fewer files
    than cores get repartitioned; in-memory frames (no input files)
    pass through untouched."""
    from node_js_etl_processor_spark.catalog import load_table, spread

    scan = load_table(spark, sf_dir, "documents")
    assert len(scan.inputFiles()) > 0
    spread_scan = spread(scan)
    assert "Exchange" in spread_scan._jdf.queryExecution().toString() or (
        spread_scan is scan
    )

    mem = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    assert spread(mem) is mem


def test_spread_gate_walks_lineage_not_plan_strings(spark, sf_dir):
    """The double-spread gate (plan-tree walk, not toString
    matching): a second spread over a still-governing same-target
    round-robin repartition is suppressed; a repartition buried below
    a partitioning-re-establishing node (aggregate) does NOT suppress,
    and a different-target repartition does NOT suppress."""
    from pyspark.sql import functions as F

    from node_js_etl_processor_spark.catalog import (
        _lineage_has_spread,
        load_table,
        spread,
    )

    target = spark.sparkContext.defaultParallelism
    scan = load_table(spark, sf_dir, "documents")
    assert 0 < len(scan.inputFiles()) < target  # gate is live on fixtures

    once = spread(scan)
    assert _lineage_has_spread(once, target)
    # narrow ops keep the spread governing; the second spread is a no-op
    narrow = once.select("doc_id", F.length("text").alias("n"))
    assert spread(narrow) is narrow

    # an aggregate re-establishes partitioning: the old spread no
    # longer governs, so the gate must NOT suppress a new one
    agged = once.groupBy("doc_id").agg(F.count("*").alias("c"))
    assert not _lineage_has_spread(agged, target)

    # a different-target repartition governs instead — not suppressed
    other = scan.repartition(max(2, target // 2))
    assert not _lineage_has_spread(other, target)


def test_bm25_narrow_equals_postings_form(spark, documents):
    """The narrow fixed-term BM25 must produce identical scores to the
    postings (explode) formulation."""
    from node_js_etl_processor_spark.operators.text import (
        BM25_QUERY_TERMS,
        bm25_scores,
        bm25_scores_narrow,
    )

    a = sorted(tuple(r) for r in bm25_scores(documents, BM25_QUERY_TERMS).collect())
    b = sorted(tuple(r) for r in bm25_scores_narrow(documents, BM25_QUERY_TERMS).collect())
    assert a == b and len(a) > 0


def test_fake_feature_numpy_equals_reference(spark):
    """The vectorized media kernel must match the per-byte reference
    fold exactly (same lanes, same l2)."""
    import numpy as np

    from node_js_etl_processor_spark.operators.multimodal import (
        _fake_feature,
        _fake_feature_numpy,
    )

    payloads = [b"", b"\x00", bytes(range(256)) * 37, "héllo wörld 北京".encode(), None]
    for p in payloads:
        a = np.asarray(_fake_feature(p))
        b = np.asarray(_fake_feature_numpy(p))
        assert np.array_equal(a, b), p


def test_chunk_documents_coverage_and_overlap(spark):
    """Every token lands in >=1 chunk; consecutive chunks share exactly
    `overlap` tokens; a token-less doc yields one empty chunk."""
    from node_js_etl_processor_spark.operators.text import chunk_documents

    words = " ".join(f"w{i}" for i in range(150))
    df = spark.createDataFrame(
        [(1, words), (2, "short doc"), (3, "   ")], "doc_id long, text string"
    )
    out = chunk_documents(df, chunk_size=64, overlap=16).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)

    # doc 1: 150 tokens, stride 48 -> starts 1,49,97,145 -> 4 chunks
    c1 = sorted(by_doc[1], key=lambda r: r["chunk_id"])
    assert [r["chunk_id"] for r in c1] == [0, 1, 2, 3]
    assert [r["n_tokens"] for r in c1] == [64, 64, 54, 6]
    # overlap: chunk c starts at c*48; chunk 0 covers 1..64, chunk 1 49..112
    assert c1[0]["chunk_text"].split()[48:] == c1[1]["chunk_text"].split()[:16]
    # full coverage, in order
    reconstructed = c1[0]["chunk_text"].split()
    for r in c1[1:]:
        reconstructed += r["chunk_text"].split()[16:] if r["n_tokens"] > 16 else []
    # chunk 3 (6 tokens) is fully inside the overlap tail; coverage via starts
    covered = set()
    for r in c1:
        start = r["chunk_id"] * 48
        covered.update(range(start, start + r["n_tokens"]))
    assert covered == set(range(150))

    assert len(by_doc[2]) == 1 and by_doc[2][0]["n_tokens"] == 2
    assert len(by_doc[3]) == 1 and by_doc[3][0]["n_tokens"] == 0
    assert by_doc[3][0]["chunk_text"] == ""


def test_pack_chunks_budget_and_coverage(spark):
    """Packing: every chunk lands in exactly one bin; bins are filled
    in stream order; a bin's starting token offset is bin_id*budget."""
    from node_js_etl_processor_spark.operators.text import chunk_documents, pack_chunks

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{j}" for j in range(100))) for i in range(8)],
        "doc_id long, text string",
    )
    chunks = chunk_documents(docs)
    packed = pack_chunks(chunks, budget=128, n_shards=4).collect()
    assert len(packed) == chunks.count()  # partition of the chunk set
    # per shard, bins fill monotonically in (doc_id, chunk_id) order
    by_shard = {}
    for r in sorted(packed, key=lambda r: (r["shard"], r["doc_id"], r["chunk_id"])):
        by_shard.setdefault(r["shard"], []).append(r)
    for rows in by_shard.values():
        cum = 0
        for r in rows:
            assert r["bin_id"] == cum // 128
            cum += r["n_tokens"]


def test_gopher_rules_flag_semantics(spark):
    """Each rule fires on the document engineered to violate it."""
    from node_js_etl_processor_spark.operators.text import q_gopher_rules

    good = "The quick brown fox jumps over the lazy dog near the river bank"
    docs = [
        (1, "s1", good),
        (2, "s1", "too short"),  # < 5 words
        (3, "s1", "### ## # " * 20),  # symbol-heavy, no alpha words
        (4, "s1", "\n".join("- bullet item here" for _ in range(10))),  # all bullets
        (5, "s1", " ".join("a" for _ in range(30))),  # mean word len 1 < 2
    ]
    df = spark.createDataFrame(docs, "doc_id long, source string, text string")
    row = q_gopher_rules(df).collect()[0]
    assert row["n_docs"] == 5
    assert row["pass_all"] == 1  # only the good doc survives everything
    assert row["pass_words"] == 4  # doc 2 fails the word-count rule
    assert row["pass_wordlen"] <= 4  # doc 5 fails mean word length


def test_redact_pii_counts_and_fingerprint(spark):
    from node_js_etl_processor_spark.operators.text import q_redact_pii, redact_pii
    from pyspark.sql import functions as F

    docs = [
        (1, "contact alice@example.com or bob.smith@corp.co.uk today"),
        (2, "call +1 (555) 123-4567 or 020 7946 0958 now"),
        (3, "server at 192.168.0.1 responded"),
        (4, "clean text with no identifiers at all"),
        (5, "from 2024-01-01 to 2025-12-31 (see section 1.2.3) id 12345678901"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r for r in q_redact_pii(df).collect()}
    assert out[1]["n_email"] == 2 and out[1]["n_phone"] == 0
    assert out[2]["n_phone"] == 2
    assert out[3]["n_ipv4"] == 1
    assert out[4]["n_email"] == out[4]["n_phone"] == out[4]["n_ipv4"] == 0
    # dates and dotted section numbers are NOT phones; a bare 11-digit run is
    assert out[5]["n_phone"] == 1 and out[5]["n_ipv4"] == 0

    red = {r["doc_id"]: r["red"] for r in df.select("doc_id", redact_pii(F.col("text")).alias("red")).collect()}
    assert red[1] == "contact <EMAIL> or <EMAIL> today"
    assert "<PHONE>" in red[2] and "555" not in red[2]
    assert red[3] == "server at <IP> responded"
    assert red[4] == docs[3][1]
    assert red[5] == "from 2024-01-01 to 2025-12-31 (see section 1.2.3) id <PHONE>"


def test_repetition_rules_planted_cases(spark):
    from node_js_etl_processor_spark.operators.text import q_repetition_rules

    docs = [
        # unique lines, diverse bigrams -> keep
        (1, "alpha beta gamma\ndelta epsilon zeta\neta theta iota"),
        # same line 4x: dup_line_frac = 0.75 -> reject
        (2, "spam line\nspam line\nspam line\nspam line"),
        # one bigram repeated: "buy now" covers most tokens -> reject
        (3, "buy now buy now buy now buy now buy now"),
        # no lines / no tokens: null fracs pass (no repetition evidence)
        (4, "   \n  \n"),
        # single token: no bigrams, one line -> keep
        (5, "hello"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r for r in q_repetition_rules(df).collect()}
    assert out[1]["keep"] and out[1]["dup_line_frac"] == 0.0
    assert not out[2]["keep"] and out[2]["dup_line_frac"] == 0.75
    assert not out[3]["keep"] and out[3]["top_bigram_frac"] > 0.2
    assert out[4]["keep"] and out[4]["dup_line_frac"] is None
    assert out[5]["keep"] and out[5]["top_bigram_frac"] is None


def test_decontaminate_planted_overlap(spark):
    from node_js_etl_processor_spark.operators.text import q_decontaminate

    eval_text = "zero one two three four five six seven eight nine"
    docs = [
        # doc_id 0 -> eval set (doc_id % 50 == 0)
        (0, "benchmarks", eval_text),
        # contains the eval 8-gram "zero one ... seven" verbatim
        (1, "web", "prefix zero one two three four five six seven suffix"),
        # clean
        (2, "web", "completely disjoint tokens with no overlap at all here"),
        # short doc, no 8-token run shared
        (3, "web", "zero one two"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, source string, text string")
    out = {r["source"]: r for r in q_decontaminate(df).collect()}
    assert out["web"]["n_train_docs"] == 3
    assert out["web"]["n_contaminated"] == 1
    assert "benchmarks" not in out  # eval slice is not training data


def test_decontaminate_broadcasts_eval_grams(spark, sf_dir):
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.text import q_decontaminate

    df = q_decontaminate(load_table(spark, sf_dir, "documents"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_decontaminate_hashed_path_equals_declared(spark, sf_dir):
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.text import q_decontaminate

    docs = load_table(spark, sf_dir, "documents")
    a = sorted(map(tuple, q_decontaminate(docs).collect()))
    b = sorted(map(tuple, q_decontaminate(docs, hashed=True).collect()))
    assert a == b


def test_c4_rules_line_filter_semantics(spark):
    """The C4 line rule (terminal punctuation + >=5 words) fires on
    crafted multi-line docs — the synthetic corpus can't exercise it,
    so this pins the rule itself."""
    from node_js_etl_processor_spark.operators.text import c4_kept_lines, q_c4_rules

    good = (
        "This is a proper english sentence with enough words.\n"
        "Another fine line that also ends with punctuation!\n"
        "short one."
    )
    docs = [
        (1, "s1", "en", good),  # 2 kept lines (3rd is <5 words)
        (2, "s1", "en", "no terminal punctuation on this line at all"),
        (3, "s1", "de", good),  # fails lang gate only
        (4, "s1", "en", "Code sample { return 1; } with a brace in it."),
        (5, "s1", "en", "Lorem Ipsum dolor sit amet filler text here."),
    ]
    df = spark.createDataFrame(docs, "doc_id long, source string, lang string, text string")
    kept = {
        r["doc_id"]: r["k"]
        for r in df.select(
            "doc_id", F.size(c4_kept_lines(F.col("text"))).alias("k")
        ).collect()
    }
    assert kept == {1: 2, 2: 0, 3: 2, 4: 1, 5: 1}
    row = q_c4_rules(df).collect()[0]
    assert row["n_docs"] == 5
    assert row["pass_lang"] == 4   # doc 3 is 'de'
    assert row["pass_lines"] == 4  # doc 2 has no kept line
    assert row["pass_brace"] == 4  # doc 4
    assert row["pass_lorem"] == 4  # doc 5
    assert row["pass_words"] == 0  # all crafted docs are < 30 words
    assert row["pass_all"] == 0


def test_span_dedup_planted_and_hashed_equivalence(spark):
    """A planted shared 5-gram is counted at every position in every
    doc that holds it; the xxhash64 scale path returns identical rows."""
    from node_js_etl_processor_spark.operators.text import q_span_dedup

    shared = "alpha beta gamma delta epsilon"
    docs = [
        (1, f"{shared} one two three four five six"),       # spans 1..7, 1 dup
        (2, f"zero {shared} seven eight nine ten eleven"),  # dup at position 2
        (3, "totally unique words without any overlap at all here"),
        (4, "tiny doc"),                                    # <5 tokens: no row
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = {r["doc_id"]: r for r in q_span_dedup(df).collect()}
    assert 4 not in rows
    assert rows[1]["dup_spans"] == 1 and rows[2]["dup_spans"] == 1
    assert rows[3]["dup_spans"] == 0 and rows[3]["keep"]
    assert not rows[1]["keep"]  # 1/7 > 5%
    hashed = {tuple(r) for r in q_span_dedup(df, hashed=True).collect()}
    assert hashed == {tuple(r) for r in rows.values()}


def test_quality_classifier_semantics(spark):
    """Stopword-rich English scores above the keep threshold; symbol
    soup scores below; keep compares the unrounded logit against 0."""
    from node_js_etl_processor_spark.operators.text import q_quality_classifier

    docs = [
        (1, "s1", "the cat sat on a mat and looked to the stars in the night " * 6),
        (2, "s1", "@@@ ### %%% !!! ??? ;;; ::: ,,, ... " * 5),
    ]
    df = spark.createDataFrame(docs, "doc_id long, source string, text string")
    rows = {r["doc_id"]: r for r in q_quality_classifier(df).collect()}
    assert rows[1]["keep"] and rows[1]["logit"] > 0
    assert not rows[2]["keep"] and rows[2]["logit"] < 0
    assert 0.0 < rows[2]["score"] < 0.5 < rows[1]["score"] < 1.0


def test_stratified_split_deterministic_and_leakproof(spark):
    """Exact duplicate content always lands in the same split, and the
    val share is near the requested 10% on the corpus fixture."""
    from node_js_etl_processor_spark.operators.text import q_stratified_split, split_assign

    docs = [(i, "s1", f"unique words number {i} plus filler text") for i in range(200)]
    docs += [(1000, "s2", docs[0][2]), (1001, "s2", docs[1][2])]  # dups of 0,1
    df = spark.createDataFrame(docs, "doc_id long, source string, text string")
    assign = {
        r["doc_id"]: r["s"]
        for r in df.select("doc_id", split_assign(F.col("text")).alias("s")).collect()
    }
    assert assign[1000] == assign[0] and assign[1001] == assign[1]  # content-keyed
    agg = q_stratified_split(df).collect()
    val = sum(r["n_docs"] for r in agg if r["split"] == "val")
    assert 0.02 < val / 202 < 0.25  # ~10% with small-sample slack
    assert q_stratified_split(df).collect() == agg  # deterministic re-run


def test_resize_and_frame_kernels_on_crafted_bytes(spark):
    """Pin the fake resize/frame-sample kernels on hand-computable
    payloads: exact sampling positions, frame boundaries, and the
    None-payload edge."""
    import hashlib

    from node_js_etl_processor_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        resize_media,
        sample_frames,
    )

    rows = [
        # 4 bytes: resize positions floor(j*4/64) hit byte 0 16x, 1 16x...
        (1, "image", None, bytes([10, 20, 30, 40]), None, 4),
        # empty payload
        (2, "image", None, b"", None, 0),
        # None payload
        (3, "image", None, None, None, None),
        # 600 bytes -> frames 0,1,2 (256,256,88); sampled: 0 and 2
        (4, "video", None, bytes(range(256)) * 2 + bytes(88), None, 600),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)

    rz = {r["media_id"]: r for r in resize_media(media).collect()}
    expect_hex = "".join(f"{[10,20,30,40][(j*4)//64]:02x}" for j in range(64))
    assert rz[1]["resized_md5"] == hashlib.md5(expect_hex.encode()).hexdigest()
    assert rz[1]["out_bytes"] == 64
    empty_sha = hashlib.md5(b"").hexdigest()
    assert rz[2]["out_bytes"] == 0 and rz[2]["resized_md5"] == empty_sha
    assert rz[2]["n_bytes"] == 0
    assert rz[3]["out_bytes"] == 0 and rz[3]["resized_md5"] == empty_sha
    # NULL payload -> NULL n_bytes (octet_length(NULL) semantics,
    # aligned with the q_media_resize oracle), not coerced to 0
    assert rz[3]["n_bytes"] is None

    fr = sorted(
        (r["media_id"], r["frame_no"], r["frame_bytes"])
        for r in sample_frames(media).collect()
    )
    # media 4: frames 0 (256 bytes) and 2 (88 bytes); frame 1 skipped.
    # media 1: one 4-byte frame; media 2/3: no frames.
    assert fr == [(1, 0, 4), (4, 0, 256), (4, 2, 88)]
    payload4 = bytes(range(256)) * 2 + bytes(88)
    shas = {(r["media_id"], r["frame_no"]): r["frame_md5"] for r in sample_frames(media).collect()}
    assert shas[(4, 2)] == hashlib.md5(payload4[512:].hex().encode()).hexdigest()


def test_bmp_roundtrip_and_real_resize(spark):
    """The stdlib BMP path gives q_media_resize's kernel family a REAL
    pixel grid: encode a deterministic 4x4 RGB raster as uncompressed
    24-bit BMP (struct-built, no codec libs), decode it back
    bit-exactly, nearest-neighbor resize to 2x2 with hand-computed
    expected pixels, and run the distributed resize_media_bmp pass."""
    import hashlib

    import numpy as np

    from node_js_etl_processor_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        DecodeUnavailable,
        decode_bmp,
        encode_bmp,
        resize_image,
        resize_media_bmp,
        resize_raster,
    )

    # deterministic 4x4: pixel (y,x) = (y*40, x*40, y*10+x)
    px = np.zeros((4, 4, 3), dtype=np.uint8)
    for y in range(4):
        for x in range(4):
            px[y, x] = (y * 40, x * 40, y * 10 + x)

    bmp = encode_bmp(px)
    assert bmp[:2] == b"BM"
    assert np.array_equal(decode_bmp(bmp), px)  # bit-exact roundtrip

    # nearest-neighbor 4->2 samples source rows/cols floor(i*4/2) = 0, 2
    small = resize_raster(px, 2, 2)
    assert np.array_equal(small, px[[0, 2]][:, [0, 2]])

    # full resize_image path re-encodes; decoding returns the sampled grid
    assert np.array_equal(decode_bmp(resize_image(bmp, 2, 2)), small)

    # odd width exercises the 4-byte row padding (3*3 = 9 -> stride 12)
    px3 = px[:3, :3]
    assert np.array_equal(decode_bmp(encode_bmp(px3)), px3)

    # non-BMP payloads still refuse honestly
    import pytest as _pytest

    with _pytest.raises(DecodeUnavailable):
        resize_image(b"\x89PNG....", 2, 2)

    # distributed pass: same digest as the local path
    media = spark.createDataFrame(
        [(7, "image", "image/bmp", bmp, None, len(bmp))], MEDIA_SCHEMA
    )
    row = resize_media_bmp(media, 2, 2).collect()[0]
    expect = resize_image(bmp, 2, 2)
    assert row["out_w"] == 2 and row["out_h"] == 2
    assert row["out_bytes"] == len(expect)
    assert row["resized_md5"] == hashlib.md5(expect).hexdigest()


def test_pq_encoding_and_adc_on_crafted_vectors(spark):
    """Pin the PQ kernels on a hand-built case: a vector assembled
    from one exact codeword per subspace must encode to exactly those
    code indexes (distance 0), the packed form must be the 4-bit
    concatenation, and the ADC score must equal the Python lut sum."""
    from node_js_etl_processor_spark.operators.similarity import (
        PQ_SUB_DIM,
        _pq_codebooks,
        pq_adc_topk,
        pq_encode,
    )

    cbs = _pq_codebooks()
    want_codes = [3, 0, 15, 7, 1, 9, 12, 5]
    vec = [v for s, j in enumerate(want_codes) for v in cbs[s][j]]
    other = [v for s in range(8) for v in cbs[s][8]]  # codes all 8
    emb = spark.createDataFrame(
        [(1, vec, "a"), (2, other, "b")],
        "vec_id long, embedding array<double>, label string",
    )

    got = {r["vec_id"]: r for r in pq_encode(emb).collect()}
    assert list(got[1]["codes"]) == want_codes
    assert list(got[2]["codes"]) == [8] * 8
    assert got[1]["pq_code"] == sum(c << (4 * s) for s, c in enumerate(want_codes))

    probe = [0.25] * (PQ_SUB_DIM * 8)
    top = {r["vec_id"]: r["adc_dot"] for r in pq_adc_topk(emb, probe, k=2).collect()}
    for vid, codes in ((1, want_codes), (2, [8] * 8)):
        expect = 0.0
        for s, j in enumerate(codes):
            acc = 0.0
            for a, b in zip(probe[s * PQ_SUB_DIM : (s + 1) * PQ_SUB_DIM], cbs[s][j]):
                acc += a * b
            expect += acc
        assert abs(top[vid] - round(expect, 6)) < 1e-9

    # determinism: identical re-run
    again = {r["vec_id"]: r["pq_code"] for r in pq_encode(emb).collect()}
    assert again == {k: r["pq_code"] for k, r in got.items()}


def test_weighted_sample_temperature_behavior(spark):
    """Temperature semantics of q_weighted_sample: at T=1 every source
    gets exactly the budget fraction as its rate (proportional
    sampling); at T<1 smaller sources get strictly higher rates than
    bigger ones (the upweighting the knob exists for); identical texts
    always sample identically (content-hash keyed)."""
    from node_js_etl_processor_spark.operators.text import q_weighted_sample

    rows = []
    did = 0
    for i in range(40):  # big source: 40 docs x 8 tokens
        rows.append((did, "tok%d a b c d e f g" % i, "en", "big", 0)); did += 1
    for i in range(5):  # small source: 5 docs x 8 tokens
        rows.append((did, "s%d h i j k l m n" % i, "en", "small", 0)); did += 1
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )

    t1 = {r["source"]: r["sample_rate"] for r in q_weighted_sample(docs, temperature=1.0).collect()}
    assert t1["big"] == t1["small"] == 0.5

    t07 = {r["source"]: r["sample_rate"] for r in q_weighted_sample(docs).collect()}
    assert t07["small"] > t07["big"]

    # dup texts share the bucket: duplicate the whole small source and
    # the kept doc count must exactly double
    dup = docs.union(
        docs.filter(F.col("source") == "small").withColumn(
            "doc_id", F.col("doc_id") + 1000
        )
    )
    base = {r["source"]: r["n_sampled"] for r in q_weighted_sample(docs, temperature=1.0).collect()}
    doubled = {r["source"]: r["n_sampled"] for r in q_weighted_sample(dup, temperature=1.0).collect()}
    assert doubled["small"] == 2 * base["small"]


def test_png_roundtrip_filters_and_resize(spark):
    """The stdlib PNG path (zlib inflate + scanline unfilter): encode a
    deterministic raster as filter-0 truecolor PNG and decode it back
    bit-exactly; decode hand-filtered IDAT streams for every filter
    type (Sub/Up/Average/Paeth applied forward in the test, reversed
    by the decoder); RGBA drops alpha; resize_image re-encodes PNG as
    PNG; corrupt payloads (bad chunk length, bad geometry, truncated
    zlib) and corrupt BMPs (raster past payload end) all fail as
    DecodeUnavailable — one skippable record, not an executor crash."""
    import struct
    import zlib

    import numpy as np
    import pytest as _pytest

    from node_js_etl_processor_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        DecodeUnavailable,
        _PNG_SIG,
        decode_bmp,
        decode_image,
        decode_png,
        encode_bmp,
        encode_png,
        resize_image,
        resize_media_bmp,
    )

    px = np.zeros((5, 4, 3), dtype=np.uint8)
    for y in range(5):
        for x in range(4):
            px[y, x] = (y * 37 % 256, x * 61 % 256, (y * 10 + x) % 256)

    png = encode_png(px)
    assert png[:8] == _PNG_SIG
    assert np.array_equal(decode_png(png), px)
    assert np.array_equal(decode_image(png), px)  # dispatch by signature

    # hand-filter the raster with each filter type; decoder must invert
    def chunk(ctype, data):
        body = ctype + data
        return struct.pack(">I", len(data)) + body + struct.pack(
            ">I", zlib.crc32(body) & 0xFFFFFFFF
        )

    def forward_filter(arr, ftype, nch=3):
        h, w, _ = arr.shape
        stride = w * nch
        flat = arr.reshape(h, stride).astype(np.int32)
        out = b""
        for y in range(h):
            row = flat[y]
            prev = flat[y - 1] if y > 0 else np.zeros(stride, dtype=np.int32)
            f = np.empty(stride, dtype=np.int32)
            for x in range(stride):
                a = row[x - nch] if x >= nch else 0
                b = prev[x]
                c = prev[x - nch] if x >= nch else 0
                if ftype == 1:
                    pred = a
                elif ftype == 2:
                    pred = b
                elif ftype == 3:
                    pred = (a + b) // 2
                else:  # 4 — Paeth
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                f[x] = (row[x] - pred) & 0xFF
            out += bytes([ftype]) + f.astype(np.uint8).tobytes()
        return out

    ihdr = struct.pack(">IIBBBBB", 4, 5, 8, 2, 0, 0, 0)
    for ftype in (1, 2, 3, 4):
        raw = forward_filter(px, ftype)
        payload = (
            _PNG_SIG
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b"")
        )
        assert np.array_equal(decode_png(payload), px), f"filter {ftype}"

    # RGBA input decodes with alpha dropped
    rgba = np.dstack([px, np.full((5, 4), 200, dtype=np.uint8)])
    raw = b"".join(b"\x00" + rgba[y].tobytes() for y in range(5))
    ihdr_a = struct.pack(">IIBBBBB", 4, 5, 8, 6, 0, 0, 0)
    payload = (
        _PNG_SIG
        + chunk(b"IHDR", ihdr_a)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    assert np.array_equal(decode_png(payload), px)

    # resize_image keeps the source container format
    small = resize_image(png, 2, 2)
    assert small[:8] == _PNG_SIG
    assert np.array_equal(decode_png(small), px[[0, 2]][:, [0, 2]])

    # the distributed pass takes PNGs through the same kernel
    media = spark.createDataFrame(
        [(9, "image", "image/png", png, None, len(png))], MEDIA_SCHEMA
    )
    row = resize_media_bmp(media, 2, 2).collect()[0]
    assert row["out_bytes"] == len(small)

    # corrupt payloads fail honestly, never with slice/zlib/numpy errors
    bad_len = _PNG_SIG + struct.pack(">I", 1 << 30) + b"IHDRxxxx"
    for bad in (
        bad_len,
        _PNG_SIG + chunk(b"IHDR", b"\x00" * 5),  # short IHDR
        _PNG_SIG + chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 5, 8, 3, 0, 0, 0))
        + chunk(b"IDAT", b"xx") + chunk(b"IEND", b""),  # palette PNG
        _PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", b"notzlib")
        + chunk(b"IEND", b""),  # broken stream
        _PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IEND", b""),  # no IDAT
    ):
        with _pytest.raises(DecodeUnavailable):
            decode_png(bad)

    # corrupt BMP geometry is bounded-checked the same way
    good_bmp = encode_bmp(px)
    with _pytest.raises(DecodeUnavailable):
        decode_bmp(good_bmp[:30])  # truncated header
    huge_w = bytearray(good_bmp)
    struct.pack_into("<i", huge_w, 18, 1 << 24)  # width far past payload
    with _pytest.raises(DecodeUnavailable):
        decode_bmp(bytes(huge_w))
    neg_w = bytearray(good_bmp)
    struct.pack_into("<i", neg_w, 18, -4)
    with _pytest.raises(DecodeUnavailable):
        decode_bmp(bytes(neg_w))


def test_html_extract_roundtrip_semantics(spark):
    """html_extract must recover exactly 'DOC {id} {text} SOURCE {src}'
    from wrap_html pages — including text containing markup-significant
    characters (&, <, >, quotes, entity look-alikes) that the escape/
    decode chain must round-trip, with whitespace runs collapsed; and
    it must strip script/style CONTENT, not just their tags."""
    from pyspark.sql import functions as F

    from node_js_etl_processor_spark.operators.text import (
        html_extract,
        wrap_html,
    )

    cases = [
        (1, "plain words only", "web"),
        (2, "a < b && b > c", "crawl"),   # raw markup chars
        (3, "pre &amp; literal &lt;tag&gt; text", "web"),  # entity look-alikes
        (4, 'quotes "double" and \'single\' stay', "news"),
        (5, "runs   of\twhitespace\ncollapse", "web"),
    ]
    df = spark.createDataFrame(cases, "doc_id long, text string, source string")
    out = {
        r["doc_id"]: r["ext"]
        for r in df.select(
            "doc_id",
            html_extract(
                wrap_html(F.col("doc_id"), F.col("text"), F.col("source"))
            ).alias("ext"),
        ).collect()
    }
    import re

    for doc_id, text, source in cases:
        collapsed = re.sub(r"\s+", " ", text)
        expect = f"DOC {doc_id} {collapsed} SOURCE {source}"
        assert out[doc_id] == expect, (out[doc_id], expect)

    # script/style content must vanish even when it contains text-y words
    page = (
        "<html><script>var visible = 'leaky text';</script>"
        "<style>body::after { content: 'style text'; }</style>"
        "<p>kept</p></html>"
    )
    got = spark.range(1).select(html_extract(F.lit(page)).alias("e")).head()["e"]
    assert got == "kept", got


def test_normalize_url_rules(spark):
    """Each normalize_url rule on crafted URLs: case-folded scheme+host
    (path case preserved), www/default-port/fragment/tracking-param/
    trailing-slash stripping, http→https fold — all collapsing to one
    canonical form; a non-tracking param survives."""
    from pyspark.sql import functions as F

    from node_js_etl_processor_spark.operators.text import normalize_url

    same = [
        "HTTP://WWW.News.Example.com:80/Docs/page-3?utm_source=a&utm_campaign=b#frag",
        "https://news.example.com/Docs/page-3/",
        "http://www.news.example.com:443/Docs/page-3",
        "https://News.example.com/Docs/page-3#x",
    ]
    df = spark.createDataFrame([(u,) for u in same], "u string")
    got = {r["n"] for r in df.select(normalize_url(F.col("u")).alias("n")).collect()}
    assert got == {"https://news.example.com/Docs/page-3"}, got

    keep = spark.createDataFrame(
        [("https://web.example.com/a?page=2&fbclid=zz",)], "u string"
    )
    got = keep.select(normalize_url(F.col("u")).alias("n")).head()["n"]
    assert got == "https://web.example.com/a?page=2", got

    # tracking param FIRST in a mixed query string — the strip
    # must not leave an &-led remainder (the wrong output would be
    # .../a&page=2, splitting otherwise-identical URLs)
    mixed = {
        "https://web.example.com/a?utm_x=1&page=2": "https://web.example.com/a?page=2",
        "https://web.example.com/a?utm_x=1&page=2&utm_y=3": "https://web.example.com/a?page=2",
        "https://web.example.com/a?utm_x=1&utm_y=3": "https://web.example.com/a",
        "https://web.example.com/a?fbclid=z&b=1&c=2": "https://web.example.com/a?b=1&c=2",
    }
    df = spark.createDataFrame([(u,) for u in mixed], "u string")
    got = {r["u"]: r["n"] for r in df.select(
        "u", normalize_url(F.col("u")).alias("n")).collect()}
    assert got == mixed, got


def test_wav_roundtrip_features_and_refusal(spark):
    """The stdlib WAV path: encode deterministic sine/square PCM,
    decode back bit-exactly (mono + stereo), nearest-neighbor
    resample honors the floor(i*src/dst) convention, and the
    distributed audio_features_wav pass computes duration/rms/peak
    with non-WAV payloads surfacing as ok=false rows, not executor
    errors."""
    import numpy as np

    from node_js_etl_processor_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        DecodeUnavailable,
        audio_features_wav,
        decode_wav,
        encode_wav,
        resample_audio,
    )

    t = np.arange(1600)
    mono = (10000 * np.sin(2 * np.pi * 440 * t / 16000)).astype(np.int16)
    stereo = np.stack([mono, (mono // 2).astype(np.int16)], axis=1)

    for arr in (mono, stereo):
        wav = encode_wav(arr, 16000)
        dec, rate = decode_wav(wav)
        assert rate == 16000
        want = arr[:, None] if arr.ndim == 1 else arr
        assert np.array_equal(dec, want)

    # resample halves/doubles the length with the floor sampling rule
    half = resample_audio(mono, 16000, 8000)
    assert len(half) == 800 and np.array_equal(half, mono[::2])

    # corrupt payloads refuse honestly
    import pytest as _pytest

    wav = encode_wav(mono, 16000)
    with _pytest.raises(DecodeUnavailable):
        decode_wav(b"RIFFxxxxWAVE")  # no chunks
    with _pytest.raises(DecodeUnavailable):
        decode_wav(wav[:30])  # truncated mid-fmt
    bad = bytearray(wav)
    bad[20] = 3  # format tag -> IEEE float
    with _pytest.raises(DecodeUnavailable):
        decode_wav(bytes(bad))

    # distributed pass: real features + per-row failure isolation
    rows = [
        (1, "audio", "audio/wav", encode_wav(mono, 16000), None, None),
        (2, "audio", "audio/wav", encode_wav(stereo, 8000), None, None),
        (3, "audio", "audio/mpeg", b"ID3\x04not-a-wav", None, None),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {r["media_id"]: r.asDict() for r in audio_features_wav(media).collect()}
    assert got[1]["ok"] == "true" and got[1]["duration_ms"] == 100
    assert got[1]["n_channels"] == 1 and got[1]["sample_rate"] == 16000
    expect_rms = float(np.sqrt(np.mean(mono.astype(np.float64) ** 2)))
    assert got[1]["rms"] == f"{expect_rms:.4f}"
    assert got[1]["peak"] == int(np.abs(mono).max())
    assert got[2]["ok"] == "true" and got[2]["n_channels"] == 2
    assert got[2]["duration_ms"] == 200  # 1600 frames at 8 kHz
    assert got[3]["ok"] == "false" and got[3]["duration_ms"] is None


def test_lm_bigram_perplexity_single_token_doc(spark):
    """Regression: sequence(1, size-1) on a SINGLE-token doc is
    sequence(1, 0) = [1, 0] (Spark steps down when start > stop), and
    element_at(toks, 0) aborted the whole job. The when-guard must make
    such docs score on the unigram term only — avg_nll == -log(p_uni)
    — exactly as the docstring and the DuckDB oracle (whose range(1,1)
    is empty) already promised."""
    import math

    from node_js_etl_processor_spark.operators.text import q_lm_bigram_perplexity

    docs = spark.createDataFrame(
        [(1, "alpha beta alpha"), (2, "beta"), (3, "")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r.asDict() for r in q_lm_bigram_perplexity(docs).collect()}
    # empty doc excluded; single-token doc present and unigram-scored
    assert set(got) == {1, 2}
    assert got[2]["n_tokens"] == 1
    # corpus unigrams: alpha x2, beta x2 -> p_uni(beta) = 0.5
    assert got[2]["avg_nll"] == round(-math.log(0.5), 6)


def test_jpeg_roundtrip_subsample_restart_and_refusal(spark):
    """The stdlib baseline-JFIF path. encode→decode roundtrips
    within quantization tolerance for 4:4:4, 4:2:0 and restart-marker
    streams at quant=1 (all sampling/restart decoder paths exercised);
    decode_image dispatches on the SOI signature; resize_image
    re-encodes JPEG as JPEG; grayscale single-component scans decode;
    progressive / corrupt / truncated payloads refuse as
    DecodeUnavailable — one skippable record, never an executor
    crash."""
    import struct

    import numpy as np
    import pytest as _pytest

    from node_js_etl_processor_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg_baseline,
    )
    from node_js_etl_processor_spark.operators.multimodal import (
        DecodeUnavailable,
        decode_image,
        resize_image,
    )

    yy, xx = np.mgrid[0:21, 0:37]
    img = np.dstack([(yy * 7) % 256, (xx * 5) % 256, (yy + 2 * xx) % 256]).astype(
        np.uint8
    )
    for kw in (
        {},
        {"subsample": True},
        {"restart_interval": 3},
        {"subsample": True, "restart_interval": 2},
    ):
        enc = encode_jpeg_baseline(img, quant=1, **kw)
        dec = decode_jpeg(enc)
        assert dec.shape == img.shape
        # quant=1 bounds: DCT rounding only for 4:4:4; 2x2 chroma
        # means add bounded chroma error for 4:2:0
        tol = 2 if not kw.get("subsample") else 16
        assert np.abs(dec.astype(int) - img.astype(int)).max() <= tol, kw

    enc = encode_jpeg_baseline(img, quant=1)
    assert np.array_equal(decode_image(enc), decode_jpeg(enc))  # dispatch
    resized = resize_image(enc, 10, 8)
    assert resized[:2] == b"\xff\xd8"  # JPEG in, JPEG out
    assert decode_jpeg(resized).shape == (8, 10, 3)

    # grayscale: hand-build a 1-component stream by rewriting SOF/SOS
    # of an encoded luma-only... simplest: encode, then decode a
    # synthetic gray via the public markers — build from scratch
    gray = encode_jpeg_baseline(np.dstack([img[:, :, :1]] * 3), quant=1)
    g = decode_jpeg(gray)
    assert g.shape == img.shape

    # refusals
    with _pytest.raises(DecodeUnavailable):
        decode_jpeg(b"nope")
    with _pytest.raises(DecodeUnavailable):
        decode_jpeg(enc[:60])  # truncated before the scan
    with _pytest.raises(DecodeUnavailable):
        decode_jpeg(enc[:-200])  # truncated mid-entropy-stream
    prog = bytearray(enc)
    sof = prog.index(b"\xff\xc0")
    prog[sof + 1] = 0xC2  # masquerade as progressive
    with _pytest.raises(DecodeUnavailable):
        decode_jpeg(bytes(prog))
    bad_dht = bytearray(enc)
    dht = bad_dht.index(b"\xff\xc4")
    bad_dht[dht + 5] = 255  # absurd length-1 code count -> Kraft fail
    with _pytest.raises(DecodeUnavailable):
        decode_jpeg(bytes(bad_dht))


def test_countmin_invariants_and_broadcast(spark, sf_dir):
    """The CM guarantee — estimate >= exact for EVERY key — plus
    real collision behavior at the 4x64 geometry (some overshoot
    must be visible on a 1000+-key stream) and the broadcast of the
    256-cell grid into the probe join."""
    import contextlib
    import io

    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.sketch import q_countmin

    orders = load_table(spark, sf_dir, "orders")
    rows = q_countmin(orders).collect()
    assert len(rows) == orders.select("o_custkey").distinct().count()
    assert all(r["cms_est"] >= r["exact_n"] for r in rows)
    assert all(r["overshoot"] == r["cms_est"] - r["exact_n"] for r in rows)
    assert any(r["overshoot"] > 0 for r in rows)  # collisions are real

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q_countmin(orders).explain("simple")
    assert "BroadcastHashJoin" in buf.getvalue()


def test_pagerank_distribution_sanity(spark, sf_dir):
    """3-iteration PageRank over the trade graph — 25 nation
    nodes, scores positive, total mass <= 1 (dangling mass dropped by
    the documented simple form) and >= the undamped floor, rank
    column consistent with the scores."""
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.graph import q_pagerank

    rows = q_pagerank(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "supplier"),
    ).collect()
    assert len(rows) == 25
    total = sum(r["pagerank"] for r in rows)
    assert 0.15 <= total <= 1.000001, total
    by_rank = sorted(rows, key=lambda r: r["rank"])
    scores = [r["pagerank"] for r in by_rank]
    assert scores == sorted(scores, reverse=True)
    assert all(r["pagerank"] > 0 for r in rows)


def test_jpeg_true_grayscale_single_component(spark):
    """The decoder's genuine 1-component scan path (our encoder
    always writes 3 components, so this hand-builds a grayscale
    baseline stream: 1-component SOF0/SOS around the same entropy
    machinery) — decoded luma must match the source plane within DCT
    rounding, replicated across RGB."""
    import struct

    import numpy as np

    from node_js_etl_processor_spark.operators import jpeg as J

    h = w = 16
    yy, xx = np.mgrid[0:h, 0:w]
    plane = ((yy * 11 + xx * 7) % 256).astype(np.float64)

    dctab = J._huff_encode_table(J._DC_BITS, J._DC_VALS)
    actab = J._huff_encode_table(J._AC_BITS, J._AC_VALS)
    cbasis = J._dct_basis()
    zz = np.array(J.ZIGZAG)
    bw = J._BitWriter()
    pred = 0
    for my in range(h // 8):
        for mx in range(w // 8):
            blk = plane[my * 8 : my * 8 + 8, mx * 8 : mx * 8 + 8] - 128.0
            coef = np.round(cbasis @ blk @ cbasis.T).astype(np.int64)
            pred = J._encode_block(bw, coef.flat[zz], dctab, actab, pred)
    bw.flush()

    def seg(marker, body):
        return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

    out = bytearray(b"\xff\xd8")
    out += seg(0xDB, b"\x00" + bytes([1]) * 64)
    out += seg(0xC0, struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0]))
    out += seg(0xC4, bytes([0x00]) + bytes(J._DC_BITS) + bytes(J._DC_VALS)
               + bytes([0x10]) + bytes(J._AC_BITS) + bytes(J._AC_VALS))
    out += seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    out += bw.out + b"\xff\xd9"

    dec = J.decode_jpeg(bytes(out))
    assert dec.shape == (h, w, 3)
    # all three channels identical (replicated gray)
    assert np.array_equal(dec[:, :, 0], dec[:, :, 1])
    assert np.array_equal(dec[:, :, 1], dec[:, :, 2])
    assert np.abs(dec[:, :, 0].astype(float) - plane).max() <= 2


def test_bloom_invariants_and_broadcast(spark, sf_dir):
    """The Bloom guarantee — ZERO false negatives — plus a
    nonzero, rate-bounded false-positive band and the broadcast of
    the bit table into the probe join."""
    import contextlib
    import io

    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.sketch import q_bloom

    rows = q_bloom(load_table(spark, sf_dir, "orders")).collect()
    stored = [r for r in rows if r["actually_stored"]]
    negatives = [r for r in rows if not r["actually_stored"]]
    assert stored and negatives
    assert all(r["maybe_present"] for r in stored)  # no false negatives
    fp = sum(1 for r in negatives if r["maybe_present"])
    assert all(r["is_fp"] == (r["maybe_present"] and not r["actually_stored"]) for r in rows)
    # designed rate ~0.5% at sf0.01 load; allow a generous band but
    # demand the filter actually filters
    assert fp / len(negatives) < 0.05

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q_bloom(load_table(spark, sf_dir, "orders")).explain("simple")
    assert "BroadcastHashJoin" in buf.getvalue()


def test_fuzzy_match_hashed_keys_exact_and_key_cap(spark):
    """The hardened FastSS blocking — (klen, xxhash64) join keys +
    post-DISTINCT name join — must be EXACT (equal to brute-force
    Levenshtein on a crafted fixture), and the opt-in key_cap must
    drop only pairs reachable solely through a hot non-discriminative
    key while keeping pairs that share any other <=cap key."""
    import itertools

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[len(b)]

    # 9 names sharing ONE hot deletion key ("X") + a pair sharing a
    # discriminative key ("ABCD") + an unrelated singleton
    names = [f"X{i}" for i in range(1, 10)] + ["ABCDE", "ABCDX", "ZZZZZZ"]
    cust = spark.createDataFrame(
        [(i + 1, n) for i, n in enumerate(names)], "c_custkey int, c_name string"
    )
    expect = {
        (i + 1, j + 1)
        for (i, a), (j, b) in itertools.combinations(enumerate(names), 2)
        if lev(a, b) <= 1
    }
    exact = {
        (r["cust_a"], r["cust_b"])
        for r in dedup.q_fuzzy_match(cust).collect()
    }
    assert exact == expect  # hashed blocking is exact

    capped = {
        (r["cust_a"], r["cust_b"])
        for r in dedup.q_fuzzy_match(cust, key_cap=3).collect()
    }
    assert capped <= exact  # cap never invents pairs
    assert (10, 11) in capped  # ABCDE/ABCDX found via uncapped "ABCD"
    # the X-pairs are reachable ONLY via the hot "X" key (9 postings > 3)
    assert not any(a <= 9 and b <= 9 for a, b in capped)


def test_pagerank_until_fixed_equals_unrolled(spark):
    """pagerank_until in fixed-iteration mode (eps=0,
    require_convergence=False → exactly max_iter rounds) must equal
    the unrolled oracle-grade pagerank on a dangling-free graph
    (dangling redistribution is a no-op there: dmass == 0.0)."""
    from node_js_etl_processor_spark.operators.graph import pagerank, pagerank_until

    edges = spark.createDataFrame(
        [(1, 2, 3), (2, 3, 2), (3, 1, 1), (1, 3, 1), (3, 2, 2)],
        "src long, dst long, w long",
    )
    fixed = {
        (r["node"], r["pagerank"], r["rank"])
        for r in pagerank(edges, iterations=3).collect()
    }
    stats = {}
    until = {
        (r["node"], r["pagerank"], r["rank"])
        for r in pagerank_until(
            edges, eps=0.0, max_iter=3, require_convergence=False, stats=stats
        ).collect()
    }
    assert until == fixed
    assert stats["iterations"] == 3


def test_pagerank_until_converges_and_conserves_dangling_mass(spark):
    """(a) on a symmetric cycle the uniform vector is the fixed
    point — convergence must stop well before max_iter; (b) with a
    dangling node the redistributed total rank must stay 1.0 (the
    leak the simple form tolerates), and the dangling sink must
    outrank its source; (c) an unconvergeable budget raises rather
    than returning wrong ranks."""
    import pytest as _pytest

    from node_js_etl_processor_spark.operators.graph import pagerank_until

    cycle = spark.createDataFrame(
        [(1, 2, 1), (2, 3, 1), (3, 1, 1)], "src long, dst long, w long"
    )
    stats = {}
    rows = pagerank_until(cycle, eps=1e-9, max_iter=50, stats=stats).collect()
    assert stats["iterations"] < 10
    assert all(abs(r["pagerank"] - 1 / 3) < 1e-6 for r in rows)

    dangle = spark.createDataFrame([(1, 2, 1)], "src long, dst long, w long")
    stats = {}
    rows = pagerank_until(dangle, eps=1e-10, max_iter=200, stats=stats).collect()
    total = sum(r["pagerank"] for r in rows)
    assert abs(total - 1.0) < 1e-5, total
    by_node = {r["node"]: r["pagerank"] for r in rows}
    assert by_node[2] > by_node[1]

    with _pytest.raises(RuntimeError, match="did not converge"):
        pagerank_until(dangle, eps=1e-12, max_iter=1)

    with _pytest.raises(ValueError, match="empty edge set"):
        pagerank_until(
            spark.createDataFrame([], "src long, dst long, w long")
        )

    with _pytest.raises(ValueError, match="max_iter"):
        pagerank_until(dangle, max_iter=0)


def test_gif_roundtrip_animated_interlace_and_refusal(spark):
    """GIF codec — exact encode→decode roundtrips (GIF is
    lossless) across random geometries/palettes/frame counts, the
    interlaced row order, the 256-color palette edge, dispatch
    through decode_image/resize_image, and the refusal shapes
    (corrupt payloads must raise DecodeUnavailable, never slice
    errors)."""
    import numpy as np

    from node_js_etl_processor_spark.operators.gif import (
        decode_gif,
        decode_gif_frames,
        encode_gif,
    )
    from node_js_etl_processor_spark.operators.multimodal import (
        resize_image,
    )

    rng = np.random.RandomState(7)
    for h, w, ncol, nframes in ((1, 1, 1, 1), (13, 9, 8, 3), (16, 11, 200, 2),
                                (5, 31, 2, 4), (17, 3, 31, 1)):
        pal = rng.randint(0, 256, size=(ncol, 3), dtype=np.uint8)
        frames = [pal[rng.randint(0, ncol, size=(h, w))] for _ in range(nframes)]
        delays = [3 * i for i in range(nframes)]
        payload = encode_gif(frames, delays=delays)
        got, got_delays = decode_gif_frames(payload)
        assert len(got) == nframes and got_delays == delays
        for a, b in zip(frames, got):
            assert np.array_equal(a, b), (h, w, ncol, nframes)

    # interlaced single frame roundtrips exactly
    pal = rng.randint(0, 256, size=(16, 3), dtype=np.uint8)
    frame = pal[rng.randint(0, 16, size=(16, 11))]
    inter = encode_gif([frame], interlace=True)
    assert np.array_equal(decode_gif_frames(inter)[0][0], frame)

    # palette edges: exactly 256 colors ok, 257 refuses
    grid = np.arange(256, dtype=np.uint8).reshape(16, 16)
    f256 = np.stack([grid, grid // 2, 255 - grid], axis=-1)
    assert np.array_equal(decode_gif(encode_gif([f256])), f256)
    bad = f256.astype(np.int64).reshape(-1, 3)
    bad = np.concatenate([bad, [[1, 2, 3]]]).astype(np.uint8).reshape(-1, 1, 3)
    try:
        encode_gif([bad])
        raise AssertionError("encode_gif accepted >256 colors")
    except ValueError:
        pass
    # delays/frames length mismatch must fail loudly, not zip-truncate
    try:
        encode_gif([frame, frame, frame], delays=[0, 2])
        raise AssertionError("encode_gif accepted a short delays list")
    except ValueError:
        pass

    # dispatch: decode_image reads it, resize_image re-encodes AS GIF
    from node_js_etl_processor_spark.operators.multimodal import decode_image

    assert np.array_equal(decode_image(inter), frame)
    resized = resize_image(inter, 5, 4)
    assert resized[:6] == b"GIF89a"
    assert decode_gif(resized).shape == (4, 5, 3)

    # refusal shapes
    from node_js_etl_processor_spark.operators.multimodal import (
        DecodeUnavailable,
    )

    ok = encode_gif([frame])
    for corrupt in (
        b"NOTGIF" + ok[6:],          # wrong magic
        ok[:10],                     # truncated header
        ok[:14],                     # truncated color table
        ok[:-2],                     # trailer + terminator gone
        ok[: len(ok) // 2],          # mid-LZW cut
        ok.replace(b"\x2c", b"\x7e", 1),  # unknown block type
    ):
        try:
            decode_gif_frames(corrupt)
            raise AssertionError("corrupt GIF decoded")
        except DecodeUnavailable:
            pass


def test_gif_transparency_and_disposal(spark):
    """Hand-assembled animation pins the compositing semantics:
    transparent indices keep the previous canvas pixel, disposal=2
    restores the background region before the next frame, delays ride
    the graphic-control extension."""
    import struct as _struct

    import numpy as np

    from node_js_etl_processor_spark.operators.gif import (
        _lzw_encode,
        decode_gif_frames,
    )

    red, green, blue = (255, 0, 0), (0, 255, 0), (0, 0, 255)
    gct = bytes(red) + bytes(green) + bytes(blue) + bytes((0, 0, 0))
    out = bytearray(b"GIF89a")
    out += _struct.pack("<HHBBB", 4, 4, 0x80 | 0x01, 2, 0)  # 4-entry GCT, bg=blue
    out += gct

    def img(left, top, w, h, indices):
        blk = bytearray(b"\x2c")
        blk += _struct.pack("<HHHHB", left, top, w, h, 0)
        lzw = _lzw_encode(2, bytes(indices))
        blk.append(2)
        blk.append(len(lzw))
        blk += lzw
        blk.append(0)
        return blk

    # frame 1: full canvas red
    out += img(0, 0, 4, 4, [0] * 16)
    # frame 2: 2x2 at (1,1), transparent idx=1, disposal=2, delay=7
    out += b"\x21\xf9" + _struct.pack("<BBHB", 4, (2 << 2) | 1, 7, 1) + b"\x00"
    out += img(1, 1, 2, 2, [2, 1, 1, 2])
    # frame 3: 1x1 green at (0,0)
    out += img(0, 0, 1, 1, [1])
    out.append(0x3B)

    frames, delays = decode_gif_frames(bytes(out))
    assert delays == [0, 7, 0]
    f1, f2, f3 = frames
    assert (f1 == np.array(red)).all()
    # frame 2: blue diagonal in the window, red kept under transparency
    assert tuple(f2[1, 1]) == blue and tuple(f2[2, 2]) == blue
    assert tuple(f2[1, 2]) == red and tuple(f2[2, 1]) == red
    assert tuple(f2[0, 0]) == red
    # frame 3: disposal=2 restored the window to bg blue, new green px
    assert tuple(f3[0, 0]) == green
    assert tuple(f3[1, 1]) == blue and tuple(f3[1, 2]) == blue
    assert tuple(f3[3, 3]) == red  # outside the disposed window


def test_gif_frame_sampling_real_frames(spark):
    """sample_gif_frames — every step-th REAL composited frame
    with true geometry/delay/raster digest; corrupt payloads isolate
    as ok=false rows."""
    import hashlib

    import numpy as np

    from node_js_etl_processor_spark.operators.gif import (
        decode_gif_frames,
        encode_gif,
    )
    from node_js_etl_processor_spark.operators.multimodal import (
        sample_gif_frames,
    )

    rng = np.random.RandomState(11)
    pal = rng.randint(0, 256, size=(5, 3), dtype=np.uint8)
    frames = [pal[rng.randint(0, 5, size=(6, 8))] for _ in range(4)]
    payload = encode_gif(frames, delays=[0, 2, 4, 6])
    media = spark.createDataFrame(
        [(1, bytearray(payload)), (2, bytearray(b"not a gif"))],
        "media_id long, payload binary",
    )
    rows = sample_gif_frames(media, step=2).collect()
    good = sorted(
        (r for r in rows if r["media_id"] == 1), key=lambda r: r["frame_no"]
    )
    assert [r["frame_no"] for r in good] == [0, 2]
    decoded, _ = decode_gif_frames(payload)
    for r in good:
        assert (r["ok"], r["n_frames"], r["width"], r["height"]) == (
            "true", 4, 8, 6,
        )
        assert r["frame_md5"] == hashlib.md5(
            decoded[r["frame_no"]].tobytes().hex().encode()
        ).hexdigest()
    assert [r["delay_cs"] for r in good] == [0, 4]
    (bad,) = [r for r in rows if r["media_id"] == 2]
    assert bad["ok"] == "false" and bad["frame_no"] is None


def test_synth_gif_media_chained_sampling(spark, sf_dir):
    """The full distributed GIF loop — synth_gif_media encodes a
    closed-form animation per doc inside the Arrow kernel,
    sample_gif_frames decodes and samples REAL composited frames —
    and every sampled frame's geometry/delay/digest must equal the
    doc_id closed form; corrupt rows (doc_id%11==0) isolate as
    ok=false."""
    import hashlib

    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.multimodal import (
        sample_gif_frames,
        synth_gif_media,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    rows = sample_gif_frames(synth_gif_media(docs), step=1).collect()
    seen_ok = seen_bad = 0
    for r in rows:
        did = r["media_id"]
        if did % 11 == 0:
            assert r["ok"] == "false" and r["frame_no"] is None
            seen_bad += 1
            continue
        seen_ok += 1
        w, h, nf = 4 + did % 5, 3 + did % 4, 1 + did % 3
        f = r["frame_no"]
        assert (r["width"], r["height"], r["n_frames"], r["delay_cs"]) == (
            w, h, nf, 2 * f,
        )
        color = bytes(
            (
                (did * 37 + f * 11) % 256,
                (did * 53 + f * 29) % 256,
                (did * 71 + f * 13) % 256,
            )
        )
        assert r["frame_md5"] == hashlib.md5(
            (color * (w * h)).hex().encode()
        ).hexdigest()
    assert seen_ok > 0 and seen_bad > 0


def _ref_bpe_train(word_freqs, n_merges, min_pair_freq=2):
    """Pure-python Sennrich 2016 reference: exhaustive pair counts,
    (count desc, a asc, b asc) tie-break, greedy left-to-right merge."""
    vocab = {w: tuple(list(w) + ["</w>"]) for w in word_freqs}
    merges = []
    for _ in range(n_merges):
        counts = {}
        for w, syms in vocab.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + word_freqs[w]
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        (a, b), n = best
        if n < min_pair_freq:
            break
        merges.append((a, b, n))
        new_vocab = {}
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[w] = tuple(out)
        vocab = new_vocab
    return merges, vocab


def test_bpe_train_matches_reference_and_encode_agrees(spark):
    """The DataFrame BPE trainer must learn EXACTLY the reference
    algorithm's merge list (same counts, same tie-breaks) and final
    symbol table; Arrow-batched inference (bpe_encode) must segment
    the same corpus identically to the trained vocabulary."""
    import hashlib

    from node_js_etl_processor_spark.operators.bpe import (
        bpe_encode,
        bpe_top_pairs,
        bpe_train,
        word_frequencies,
    )

    texts = [
        (1, "low low low low low lower lower newest newest"),
        (2, "newest newest newest newest widest widest widest"),
        (3, "low newest the the the the widest lower"),
    ]
    docs = spark.createDataFrame(texts, "doc_id long, text string")

    wf = {
        r["word"]: r["freq"] for r in word_frequencies(docs).collect()
    }
    ref_merges, ref_vocab = _ref_bpe_train(wf, n_merges=12)

    merges, vocab = bpe_train(docs, n_merges=12)
    assert merges == ref_merges and len(merges) > 5
    got_vocab = {
        r["word"]: tuple(r["symbols"]) for r in vocab.collect()
    }
    assert got_vocab == ref_vocab

    # the vocabulary gate — driver_vocab_cap=0 forces the
    # DISTRIBUTED loop; both paths must learn bit-identical merges
    # and final symbol tables (the default path above took the
    # collected-dict trainer)
    merges_d, vocab_d = bpe_train(docs, n_merges=12, driver_vocab_cap=0)
    assert merges_d == merges
    assert {
        r["word"]: tuple(r["symbols"]) for r in vocab_d.collect()
    } == got_vocab

    # and the CHARACTER cap trips the same fallback independently of
    # the row cap (a URL-heavy vocabulary hits it)
    merges_c, _vocab_c = bpe_train(
        docs, n_merges=12, driver_vocab_char_cap=1
    )
    assert merges_c == merges

    # first-step statistics: top pair equals the reference's merge #1
    top = bpe_top_pairs(docs, k=1).first()
    assert (top["a"], top["b"], top["pair_freq"]) == ref_merges[0]

    # inference == training's final segmentation, digest for digest
    enc = {r["doc_id"]: r for r in bpe_encode(docs, merges).collect()}
    for did, text in texts:
        toks = []
        for w in text.split():
            toks.extend(ref_vocab[w])
        want = hashlib.sha256("\x1f".join(toks).encode()).hexdigest()
        assert enc[did]["tokens_sha"] == want
        assert enc[did]["n_bpe_tokens"] == len(toks)
        assert enc[did]["n_words"] == len(text.split())


def test_bpe_astral_gate_routes_to_distributed(spark):
    """Outside the BMP the two trainer
    paths genuinely diverge — the distributed zero-width regex split
    breaks an astral code point into its two UTF-16 code units (which
    surface as replacement bytes in the UTF-8 symbol space) while the
    driver path's ``list(word)`` yields ONE code-point symbol — so a
    sub-cap corpus containing supplementary-plane characters must
    take the DISTRIBUTED loop. Pins (1) the routing: default-gated
    ``bpe_train`` equals the forced-distributed run merge for merge
    and symbol for symbol, and (2) the divergence itself — the driver
    trainer on the same word table learns a different merge list — so
    the gate cannot silently rot."""
    from node_js_etl_processor_spark.operators.bpe import (
        _bpe_train_driver,
        bpe_train,
        word_frequencies,
    )

    emoji = "\U0001F600"
    texts = [
        (1, f"{emoji}{emoji} {emoji}{emoji} ab ab ab"),
        (2, f"{emoji}{emoji} ab cd"),
    ]
    docs = spark.createDataFrame(texts, "doc_id long, text string")

    # the corpus is far under both size caps, so ONLY the astral gate
    # can be routing here: gated == forced-distributed, bit for bit
    merges, vocab = bpe_train(docs, n_merges=6)
    merges_d, vocab_d = bpe_train(docs, n_merges=6, driver_vocab_cap=0)
    assert merges == merges_d and len(merges) > 0
    assert {
        r["word"]: tuple(r["symbols"]) for r in vocab.collect()
    } == {r["word"]: tuple(r["symbols"]) for r in vocab_d.collect()}

    # the divergence the gate protects against, pinned: the collected
    # driver trainer splits code POINTS and learns a different list
    wf = word_frequencies(docs).localCheckpoint(eager=True)
    merges_drv, _vocab_drv = _bpe_train_driver(
        wf, n_merges=6, min_pair_freq=2
    )
    assert merges_drv != merges
    # ...while a BMP-only corpus still takes (and must agree with)
    # the driver path — the existing parity test covers this; here we
    # just pin that the astral routing didn't break the BMP gate
    bmp = spark.createDataFrame(
        [(1, "low low lower ab ab")], "doc_id long, text string"
    )
    m_gated, _ = bpe_train(bmp, n_merges=4)
    m_dist, _ = bpe_train(bmp, n_merges=4, driver_vocab_cap=0)
    assert m_gated == m_dist


def test_bpe_apply_merge_greedy_overlap(spark):
    """The fold must resolve overlapping pairs leftmost —
    'aaa' + (a,a) -> [aa, a, </w>], 'aaaa' -> [aa, aa, </w>] — the
    reference algorithm's non-overlapping replace semantics."""
    from node_js_etl_processor_spark.operators.bpe import (
        bpe_apply_merge,
        bpe_init_vocab,
    )

    vocab = bpe_init_vocab(
        spark.createDataFrame(
            [("aaa", 1), ("aaaa", 1), ("baaab", 1)], "word string, freq long"
        )
    )
    got = {
        r["word"]: tuple(r["symbols"])
        for r in bpe_apply_merge(vocab, "a", "a").collect()
    }
    assert got["aaa"] == ("aa", "a", "</w>")
    assert got["aaaa"] == ("aa", "aa", "</w>")
    assert got["baaab"] == ("b", "aa", "a", "b", "</w>")


def _duck_parity(spark_df, sql, sf_dir, tables=("documents",)):
    """Column names, row count and the normalized row multiset against
    a DuckDB query over the same parquet tables — the comparator of
    scripts/full_verify.py, run locally ahead of declaration."""
    import duckdb

    from full_verify import frame_to_multiset

    con = duckdb.connect()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    cols = spark_df.columns
    rows = [tuple(r) for r in spark_df.collect()]
    res = con.execute(sql)
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    assert sorted(cols) == sorted(dcols), (cols, dcols)
    assert len(rows) == len(drows), (len(rows), len(drows))
    assert frame_to_multiset(cols, rows) == frame_to_multiset(dcols, drows)
    return len(rows)


from __spark_entry__ import (  # the registry compares the same SQL
    ADPCM_ORACLE,
    AUDIO_PROBE_ORACLE,
    BPE_PAIRS_ORACLE,
    FLAC_ORACLE,
    G711_ORACLE,
    HEAVY_HITTERS_ORACLE,
    IMAGE_DEDUP_ORACLE,
    IMAGE_NEARDUP_ORACLE,
    GIF_FRAMES_ORACLE,
    HDR_ORACLE,
    HLL_INTERSECT_ORACLE,
    HLL_ORACLE,
    HLL_ROLLUP_ORACLE,
    HLL_TIMELINE_ORACLE,
    LINK_GRAPH_ORACLE,
    NETPBM_ORACLE,
    TIFF_ORACLE,
    TOKEN_BUDGET_ORACLE,
    VIDEO_FRAMES_ORACLE,
)


def test_bpe_pairs_duckdb_oracle_parity(spark, sf_dir):
    """bpe_top_pairs vs its DuckDB oracle on the real fixture —
    the same compare the registry runs."""
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.bpe import bpe_top_pairs

    docs = load_table(spark, sf_dir, "documents")
    n = _duck_parity(bpe_top_pairs(docs, 20), BPE_PAIRS_ORACLE, sf_dir)
    assert n == 20


def test_gif_frames_duckdb_oracle_parity(spark, sf_dir):
    """q_gif_frames vs its DuckDB oracle — the real LZW
    encode→decode→composite→sample loop differentially checked
    against the doc_id closed form, including raster digests and
    corrupt-row isolation."""
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.multimodal import q_gif_frames

    docs = load_table(spark, sf_dir, "documents")
    n = _duck_parity(q_gif_frames(docs), GIF_FRAMES_ORACLE, sf_dir)
    assert n > 0


def test_link_graph_duckdb_oracle_parity_and_domain_rank(spark, sf_dir):
    """q_link_graph vs its DuckDB oracle (page build + href regex replayed,
    not just the closed form) — and the composed domain_pagerank signal:
    converges on the 20-domain graph with total rank ~1.0 (dangling mass
    redistributed)."""
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.graph import (
        domain_pagerank,
        q_link_graph,
    )

    docs = load_table(spark, sf_dir, "documents")
    n = _duck_parity(q_link_graph(docs), LINK_GRAPH_ORACLE, sf_dir)
    assert n > 0

    stats = {}
    rows = domain_pagerank(docs, eps=1e-8, max_iter=100, stats=stats).collect()
    # 18 of the 20 domains: d0 and d10 emit only self-links
    # (3k ≡ 7k ≡ 11k ≡ k mod 20 for k ∈ {0, 10}), so they are
    # isolated and correctly absent from the edge-defined node set
    assert len(rows) == 18 and stats["iterations"] < 100
    assert abs(sum(r["pagerank"] for r in rows) - 1.0) < 1e-4




def test_token_budget_duckdb_oracle_parity(spark, sf_dir):
    """q_token_budget (train 8 merges -> bpe_encode -> per-source
    budget vs chars/4) vs the full-training-unroll DuckDB oracle
    (imported from __spark_entry__, the same SQL the registry
    compares). The oracle replays training; the Spark
    side runs REAL inference, so this differentially checks the
    train==inference equivalence end to end on the fixture corpus,
    on top of the segmentation property pinned in
    test_bpe_trainer_matches_python_reference."""
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.bpe import q_token_budget

    docs = load_table(spark, sf_dir, "documents")
    n = _duck_parity(q_token_budget(docs), TOKEN_BUDGET_ORACLE, sf_dir)
    assert n > 0


def test_token_accounting_exact_on_known_corpus(spark):
    """token_accounting arithmetic on a hand-computable corpus: one
    merge ('a','b'), doc 'ab ab' -> tokens [ab,</w>,ab,</w>] = 4;
    est = floor((5+3)/4) = 2; abs_err 2."""
    from node_js_etl_processor_spark.operators.bpe import token_accounting

    docs = spark.createDataFrame(
        [(1, "s1", "ab ab"), (2, "s1", "ab"), (3, "s2", "xyz")],
        "doc_id long, source string, text string",
    )
    rows = {
        r["source"]: r
        for r in token_accounting(docs, [("a", "b", 9)]).collect()
    }
    # doc1: words [ab, ab] -> [ab,</w>] x2 = 4 toks, est floor(8/4)=2
    # doc2: [ab,</w>] = 2 toks, est floor((2+3)/4)=1
    # doc3: [x,y,z,</w>] = 4 toks, est floor((3+3)/4)=1
    s1, s2 = rows["s1"], rows["s2"]
    assert (s1["n_docs"], s1["bpe_tokens"], s1["est_tokens"]) == (2, 6, 3)
    assert (s1["abs_err"], s1["max_err"]) == (3, 2)
    assert (s2["n_docs"], s2["bpe_tokens"], s2["est_tokens"]) == (1, 4, 1)
    assert (s2["abs_err"], s2["max_err"]) == (3, 3)




def test_avi_mjpeg_roundtrip_and_isolation():
    """The MJPEG-AVI codec — solid-gray frames roundtrip the
    quant=1 JPEG path EXACTLY through the full RIFF container (the
    property the video oracle rests on), non-solid frames decode to
    the right geometry (lossy but walkable), and every corrupt
    container flavor raises DecodeUnavailable, never struct/slice
    errors."""
    import numpy as np
    import pytest as _pytest

    from node_js_etl_processor_spark.operators.multimodal import (
        DecodeUnavailable,
        decode_avi_frames,
        encode_avi_mjpeg,
    )

    frames = [np.full((5, 13, 3), g, dtype=np.uint8) for g in range(0, 256, 31)]
    avi = encode_avi_mjpeg(frames, fps=9)
    out, upf = decode_avi_frames(avi)
    assert upf == 1_000_000 // 9
    assert len(out) == len(frames)
    assert all(np.array_equal(a, b) for a, b in zip(out, frames))

    # non-solid content: decodes with correct shape (lossy is fine)
    rng = np.arange(8 * 16 * 3, dtype=np.uint8).reshape(8, 16, 3)
    out, _ = decode_avi_frames(encode_avi_mjpeg([rng], fps=1))
    assert out[0].shape == (8, 16, 3)

    for bad in (
        None,
        b"",
        b"nope",
        b"RIFF\x08\x00\x00\x00WAVExxxx",          # RIFF but not AVI
        b"RIFF\x08\x00\x00\x00AVI corrupt",        # AVI magic, garbage body
        avi[:40],                                   # truncated mid-header
        avi[:-7],                                   # truncated mid-frame/idx
        avi[:12] + b"LIST\xff\xff\xff\xffmovi",    # lying chunk size
    ):
        with _pytest.raises(DecodeUnavailable):
            decode_avi_frames(bad)

    with _pytest.raises(ValueError):
        encode_avi_mjpeg([], fps=5)
    with _pytest.raises(ValueError):
        encode_avi_mjpeg([np.zeros((4, 4, 3), np.uint8)], fps=0)


def test_video_frames_duckdb_oracle_parity(spark, sf_dir):
    """q_video_frames vs its DuckDB oracle (imported from __spark_entry__,
    the same SQL the registry compares). The real JPEG-encode -> AVI-wrap ->
    RIFF-walk -> JPEG-decode -> sample loop is differentially checked
    against the doc_id closed form, including raster digests (exact despite
    the lossy codec — solid-gray property) and corrupt-row isolation."""
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.multimodal import q_video_frames

    docs = load_table(spark, sf_dir, "documents")
    n = _duck_parity(q_video_frames(docs), VIDEO_FRAMES_ORACLE, sf_dir)
    assert n > 0


# ---------------------------------------------------- G.711 audio



def test_g711_codecs_match_audioop():
    """Both G.711 laws, both directions, EXACT parity with CPython's
    audioop (the Sun reference implementation) over the entire 16-bit
    input range and all 256 code points. Gated: audioop is removed in
    Python 3.13."""
    audioop = pytest.importorskip("audioop")
    import numpy as np

    from node_js_etl_processor_spark.operators.audio import (
        alaw_decode,
        alaw_encode,
        mulaw_decode,
        mulaw_encode,
    )

    x = np.arange(-32768, 32768, dtype=np.int16)
    raw = x.astype("<i2").tobytes()
    assert (mulaw_encode(x) == np.frombuffer(
        audioop.lin2ulaw(raw, 2), dtype=np.uint8)).all()
    assert (alaw_encode(x) == np.frombuffer(
        audioop.lin2alaw(raw, 2), dtype=np.uint8)).all()
    codes = np.arange(256, dtype=np.uint8)
    assert (mulaw_decode(codes) == np.frombuffer(
        audioop.ulaw2lin(codes.tobytes(), 2), dtype="<i2")).all()
    assert (alaw_decode(codes) == np.frombuffer(
        audioop.alaw2lin(codes.tobytes(), 2), dtype="<i2")).all()


def test_g711_codec_properties():
    """audioop-independent invariants: companding error is bounded by
    the segment step (relative error < 1/16 + bias effects), decode is
    monotone in the linear domain, and the WAV wrappers roundtrip
    including flavor rejection."""
    import numpy as np

    from node_js_etl_processor_spark.operators.audio import (
        alaw_decode,
        alaw_encode,
        decode_wav_g711,
        encode_wav_g711,
        mulaw_decode,
        mulaw_encode,
    )
    from node_js_etl_processor_spark.operators.multimodal import (
        DecodeUnavailable as DU,
        encode_wav,
    )

    x = np.arange(-32768, 32768, 7, dtype=np.int16)
    for enc, dec, tol in ((mulaw_encode, mulaw_decode, 0.04 * 32768),
                          (alaw_encode, alaw_decode, 0.04 * 32768)):
        y = dec(enc(x)).astype(np.int64)
        err = np.abs(y - x.astype(np.int64))
        # error is proportional to magnitude (companding), never huge
        assert (err <= np.maximum(np.abs(x.astype(np.int64)) // 12, 140)).all()
        assert err.max() < tol
    # decode is monotone non-decreasing when codes are sorted by their
    # decoded linear value
    for dec in (mulaw_decode, alaw_decode):
        vals = np.sort(dec(np.arange(256, dtype=np.uint8)).astype(np.int64))
        assert (np.diff(vals) >= 0).all()
    # WAV wrapper roundtrip (both laws) + flavor rejection
    sig = (np.sin(np.linspace(0, 20, 400)) * 9000).astype(np.int16)
    for law in ("mulaw", "alaw"):
        arr, rate, got_law = decode_wav_g711(encode_wav_g711(sig, 8000, law))
        assert (rate, got_law, arr.shape) == (8000, law, (400, 1))
        dec = mulaw_decode if law == "mulaw" else alaw_decode
        enc = mulaw_encode if law == "mulaw" else alaw_encode
        assert (arr.reshape(-1) == dec(enc(sig))).all()
    with pytest.raises(DU):
        decode_wav_g711(encode_wav(sig, 8000))  # PCM tag rejected
    with pytest.raises(DU):
        decode_wav_g711(b"\x00" * 32)


def test_audio_g711_duckdb_oracle_parity(spark, sf_dir):
    """Oracle parity: q_audio_g711 vs the closed-form G.711
    oracle (the exact oracle compare). Differentially verifies both
    laws' segment/mantissa encode AND decode arithmetic, the square
    wave pos/neg sample split, and real-flavor rejection (a
    well-formed MS-ADPCM WAV must land in the ok=false lane)."""
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.audio import q_audio_g711

    docs = load_table(spark, sf_dir, "documents")
    n = _duck_parity(q_audio_g711(docs), G711_ORACLE, sf_dir)
    assert n > 0


# ------------------------------------------------- IMA ADPCM




def test_adpcm_codec_matches_audioop():
    """The raw IMA nibble loop pinned EXACTLY against CPython's
    audioop (the Intel/DVI reference): encode nibble sequence, final
    carried state, and decode reconstruction, over a mixed
    sine+noise signal. audioop packs high-nibble-first vs WAV's
    low-first, so parity is at the nibble level. Gated: audioop is
    removed in Python 3.13."""
    audioop = pytest.importorskip("audioop")
    import numpy as np

    from node_js_etl_processor_spark.operators.audio import (
        adpcm_decode_stream,
        adpcm_encode_stream,
    )

    rng = np.random.RandomState(7)
    sig = (np.sin(np.linspace(0, 60, 1500)) * 12000
           + rng.randint(-500, 500, 1500)).astype(np.int16)
    codes, state = adpcm_encode_stream(sig, 0, 0)
    frag, ref_state = audioop.lin2adpcm(sig.astype("<i2").tobytes(), 2, None)
    ref_codes = []
    for byte in frag:
        ref_codes.append(byte >> 4)
        ref_codes.append(byte & 0x0F)
    assert codes == ref_codes[: len(codes)]
    assert state == ref_state
    dec, _ = adpcm_decode_stream(codes, 0, 0)
    packed = bytearray()
    for hi, lo in zip(codes[0::2], codes[1::2]):
        packed.append((hi << 4) | lo)
    ref_dec = np.frombuffer(
        audioop.adpcm2lin(bytes(packed), 2, None)[0], dtype="<i2"
    )
    assert (np.asarray(dec, np.int16) == ref_dec[: len(dec)]).all()


def test_adpcm_block_kernels_lockstep_vs_stream():
    """The lockstep (blocks-as-lanes) numpy kernels pinned directly
    against the scalar stream loops over random (B, K) matrices —
    encode with random per-block predictors (index 0, the WAV tag-0x11
    anchor) AND decode with random per-block (predictor, step index)
    states. This is the property the kernel docstrings cite: blocks
    are independent state machines, so vectorizing across them is
    bit-exact by construction."""
    import numpy as np

    from node_js_etl_processor_spark.operators.audio import (
        adpcm_decode_blocks,
        adpcm_decode_stream,
        adpcm_encode_blocks,
        adpcm_encode_stream,
    )

    rng = np.random.RandomState(23)
    for _ in range(8):
        b = int(rng.randint(1, 40))
        k = int(rng.randint(1, 160))
        mat = rng.randint(-32768, 32768, (b, k))
        preds = rng.randint(-32768, 32768, b)
        codes = adpcm_encode_blocks(mat, preds)
        idxs = rng.randint(0, 89, b)
        cm = rng.randint(0, 16, (b, k))
        dec = adpcm_decode_blocks(cm, preds, idxs)
        for bi in range(b):
            sc, _ = adpcm_encode_stream(mat[bi], int(preds[bi]), 0)
            assert list(codes[bi]) == sc
            sd, _ = adpcm_decode_stream(list(cm[bi]), int(preds[bi]), int(idxs[bi]))
            assert list(dec[bi]) == sd
    # degenerate shapes stay total
    assert adpcm_encode_blocks(np.zeros((0, 5)), np.zeros(0)).shape == (0, 5)
    assert adpcm_decode_blocks(np.zeros((0, 5)), np.zeros(0), np.zeros(0)).shape == (0, 5)


def test_adpcm_batch_matches_per_signal():
    """The cross-signal batch paths (one kernel call per Arrow batch,
    ~1000 lanes) are byte-/sample-identical to mapping the per-signal
    functions: encode_wav_adpcm_batch == [encode_wav_adpcm(s)], and
    decode_wav_adpcm_batch == [decode_wav_adpcm(p)] with per-payload
    DecodeUnavailable isolation (junk, None, truncated, and
    wrong-flavor payloads surface as error entries without poisoning
    their neighbors)."""
    import numpy as np

    from node_js_etl_processor_spark.operators.audio import (
        decode_wav_adpcm,
        decode_wav_adpcm_batch,
        encode_wav_adpcm,
        encode_wav_adpcm_batch,
        encode_wav_g711,
    )
    from node_js_etl_processor_spark.operators.multimodal import (
        DecodeUnavailable as DU,
    )

    rng = np.random.RandomState(31)
    sigs = [
        rng.randint(-32768, 32768, n).astype(np.int16)
        for n in (1, 2, 504, 505, 506, 1009, 1010, 1337)
    ]
    batch = encode_wav_adpcm_batch(sigs, 8000)
    assert batch == [encode_wav_adpcm(s, 8000) for s in sigs]
    assert encode_wav_adpcm_batch([], 8000) == []
    # per-signal rates (the mixed-audio synth's form): rate shapes only
    # the RIFF header, so mixed-rate batches still match per-signal
    rates = [8000 if i % 2 == 0 else 16000 for i in range(len(sigs))]
    assert encode_wav_adpcm_batch(sigs, rates) == [
        encode_wav_adpcm(s, r) for s, r in zip(sigs, rates)
    ]
    with pytest.raises(ValueError):
        encode_wav_adpcm_batch(sigs, rates[:-1])
    with pytest.raises(ValueError):
        encode_wav_adpcm_batch([sigs[0], np.zeros(0, np.int16)], 8000)
    payloads = [
        batch[0], b"junk", None, batch[4], batch[0][:30],
        encode_wav_g711(sigs[2], 8000, "mulaw"), batch[7],
    ]
    res = decode_wav_adpcm_batch(payloads)
    for i, p in enumerate(payloads):
        try:
            exp_arr, exp_rate = decode_wav_adpcm(p)
        except DU:
            assert isinstance(res[i], DU)
            continue
        arr, rate = res[i]
        assert rate == exp_rate and np.array_equal(arr, exp_arr)
    assert decode_wav_adpcm_batch([b"junk", None]) and all(
        isinstance(r, DU) for r in decode_wav_adpcm_batch([b"junk", None])
    )


def test_adpcm_wav_roundtrip_blocks_and_rejection():
    """Tag-0x11 container: multi-block encode/decode equals the
    per-block state-machine replay, fact-chunk truncation trims the
    zero-padded last block, and PCM / G.711 / junk payloads are
    rejected as DecodeUnavailable."""
    import numpy as np

    from node_js_etl_processor_spark.operators.audio import (
        adpcm_decode_stream,
        adpcm_encode_stream,
        decode_wav_adpcm,
        encode_wav_adpcm,
        encode_wav_g711,
    )
    from node_js_etl_processor_spark.operators.multimodal import (
        DecodeUnavailable as DU,
        encode_wav,
    )

    rng = np.random.RandomState(11)
    sig = (np.sin(np.linspace(0, 80, 1337)) * 15000
           + rng.randint(-800, 800, 1337)).astype(np.int16)
    out, rate = decode_wav_adpcm(encode_wav_adpcm(sig, 16000))
    assert (rate, len(out)) == (16000, 1337)
    exp = []
    for b0 in range(0, len(sig), 505):
        chunk = sig[b0 : b0 + 505]
        exp.append(int(chunk[0]))
        codes, _ = adpcm_encode_stream(chunk[1:], int(chunk[0]), 0)
        dec, _ = adpcm_decode_stream(codes, int(chunk[0]), 0)
        exp.extend(dec)
    assert (out == np.asarray(exp, np.int16)).all()
    # reconstruction tracks the source within adaptive-step error
    err = np.abs(out.astype(np.int64) - sig.astype(np.int64))
    assert float(err.mean()) < 600
    for bad in (encode_wav(sig, 8000),
                encode_wav_g711(sig, 8000, "alaw"),
                b"RIFFjunk"):
        with pytest.raises(DU):
            decode_wav_adpcm(bad)


def test_heavy_hitters_duckdb_oracle_parity(spark, sf_dir):
    """Oracle parity: q_heavy_hitters vs the plain exact top-k
    SQL (the exact oracle compare). The Misra-Gries candidate path
    must be invisible in the result — candidates, the broadcast
    recount and the guarantee validation are execution strategy."""
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.heavy import q_heavy_hitters

    orders = load_table(spark, sf_dir, "orders")
    n = _duck_parity(
        q_heavy_hitters(orders), HEAVY_HITTERS_ORACLE, sf_dir, tables=("orders",)
    )
    assert n > 0


def test_heavy_hitters_mg_guarantee_and_fallback():
    """The Misra-Gries machinery itself: (a) partial summaries are
    capacity-bounded and underestimate true counts by ≤ N/(cap+1);
    (b) with a capacity so small the guarantee cannot hold, the
    validation check falls back to the exact groupBy and the result
    is STILL the exact top-k — correctness never rides on the sketch."""
    import numpy as np
    import pandas as pd

    from node_js_etl_processor_spark.operators.heavy import (
        heavy_hitters_topk,
        mg_partials,
    )
    from node_js_etl_processor_spark.session import get_spark

    spark = get_spark(app_name="tests", master="local[8]")
    rng = np.random.RandomState(5)
    # zipf-ish: a few heavy keys over a long uniform tail
    keys = np.concatenate(
        [np.repeat(np.arange(5), 400), rng.randint(100, 3000, 4000)]
    )
    rng.shuffle(keys)
    df = spark.createDataFrame(pd.DataFrame({"k": keys.astype(np.int64)}))
    n = len(keys)
    parts = mg_partials(df, "k", capacity=64).toPandas()
    exact = pd.Series(keys).value_counts()
    merged = parts.groupby("key")["mg_count"].sum()
    assert (merged.index.value_counts() <= 1).all()
    # underestimate property + the merged decrement bound: each
    # partition decrements at most partition_n/(cap+1) times, and the
    # per-partition flooring adds at most one per partition
    for key, mg in merged.items():
        assert mg <= exact[key]
        assert exact[key] - mg <= n // 65 + 8
    top = heavy_hitters_topk(df, "k", k=5, capacity=64).toPandas()
    want = sorted(
        ((int(c), -int(k)) for k, c in exact.items()), reverse=True
    )[:5]
    got = [(int(r["cnt"]), -int(r["k"])) for _i, r in top.iterrows()]
    assert got == want
    # tiny capacity: guarantee unprovable -> exact fallback, same result
    top2 = heavy_hitters_topk(df, "k", k=5, capacity=2).toPandas()
    got2 = [(int(r["cnt"]), -int(r["k"])) for _i, r in top2.iterrows()]
    assert got2 == want


def test_image_dedup_duckdb_oracle_parity(spark, sf_dir):
    """Oracle parity: q_image_dedup vs the closed-form dHash
    replay (every bit recomputed from the sawtooth arithmetic in SQL,
    grouping replayed). Planted trios collide under brightness and
    amplitude shifts — the invariance claim is under the oracle."""
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.phash import q_image_dedup

    docs = load_table(spark, sf_dir, "documents")
    n = _duck_parity(q_image_dedup(docs), IMAGE_DEDUP_ORACLE, sf_dir)
    assert n > 0


def test_image_neardup_duckdb_oracle_parity_and_planted_pairs(spark, sf_dir):
    """Oracle parity: q_image_neardup vs the closed-form band
    join + popcount replay (the exact oracle compare) — the
    pigeonhole completeness of the 4×16 banding is cross-checked, not
    assumed. The synth's planted Hamming-1 member (one inverted
    source pixel, sampled only by bit (7,7)) must appear in the pairs
    while plain equality grouping (q_image_dedup) keeps it apart."""
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.phash import (
        q_image_dedup,
        q_image_neardup,
    )

    docs = load_table(spark, sf_dir, "documents")
    n = _duck_parity(q_image_neardup(docs), IMAGE_NEARDUP_ORACLE, sf_dir)
    assert n > 0
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in q_image_neardup(docs).collect()
    }
    hams = set(pairs.values())
    assert 0 in hams and 1 in hams  # exact trios AND planted near-misses
    # a specific planted trio: members 3g/3g+1 collide exactly; member
    # 3g+2 sits at hamming <= 1 of both (pick a trio clear of the %11
    # rejection lane)
    g0 = 3 * 5
    assert pairs.get((g0, g0 + 1)) == 0
    assert pairs.get((g0, g0 + 2)) in (0, 1)
    # equality grouping must NOT merge the hamming-1 member when the
    # inversion actually flipped bit (7,7)
    if pairs[(g0, g0 + 2)] == 1:
        groups = {
            r["media_id"]: r["keeper"]
            for r in q_image_dedup(docs).collect()
            if r["media_id"] in (g0, g0 + 1, g0 + 2)
        }
        assert groups[g0] == groups[g0 + 1] and groups[g0 + 2] != groups[g0]


def test_dhash_invariance_and_discrimination():
    """dHash unit surface: brightness shift and contrast rescale keep
    the hash; a different pattern changes it; color rasters gray-mean
    first; the planted trios in the synth collide by construction."""
    import numpy as np

    from node_js_etl_processor_spark.operators.phash import dhash_hex

    y, x = np.mgrid[0:16, 0:18]
    base = np.where(((2 * x + 3 * y) % 5) * 2 < 5, 120, 0).astype(np.uint8)
    assert dhash_hex(base) == dhash_hex((base + 40).astype(np.uint8))
    assert dhash_hex(base) == dhash_hex(
        np.where(base > 0, 200, 30).astype(np.uint8)
    )
    other = np.where(((1 * x + 0 * y) % 7) * 2 < 7, 120, 0).astype(np.uint8)
    assert dhash_hex(base) != dhash_hex(other)
    color = np.stack([base, base, base], axis=2)
    assert dhash_hex(color) == dhash_hex(base)
    assert len(dhash_hex(base)) == 16


def test_flac_roundtrip_is_lossless_and_md5_verified():
    """FLAC subset codec: encode→decode is bit-exact across the
    subframe forms the encoder chooses (constant blocks, random
    verbatim-ish noise, smooth fixed-predictor signals, single-sample
    and block-boundary lengths) — and the decoder PROVES losslessness
    per payload against the STREAMINFO md5 of the raw audio. Smooth
    signals must actually compress (the fixed predictors earning
    their keep); corrupting any byte of header, frame, residual or
    md5 must raise DecodeUnavailable, never return wrong samples."""
    import numpy as np

    from node_js_etl_processor_spark.operators.flac import (
        decode_flac,
        encode_flac,
        parse_flac_streaminfo,
    )
    from node_js_etl_processor_spark.operators.multimodal import (
        DecodeUnavailable as DU,
    )

    rng = np.random.RandomState(41)
    sigs = [
        np.zeros(1, np.int16),
        np.full(600, -123, np.int16),
        rng.randint(-32768, 32768, 255).astype(np.int16),
        rng.randint(-32768, 32768, 256).astype(np.int16),
        rng.randint(-32768, 32768, 257).astype(np.int16),
        rng.randint(-32768, 32768, 1337).astype(np.int16),
        (np.sin(np.linspace(0, 50, 2000)) * 20000).astype(np.int16),
        np.where(np.arange(700) % 6 < 3, 1050, -1050).astype(np.int16),
    ]
    for sig in sigs:
        payload = encode_flac(sig, 16000)
        out, rate, n_frames = decode_flac(payload)
        assert rate == 16000 and np.array_equal(out, sig)
        assert n_frames == (len(sig) + 255) // 256
    smooth = sigs[6]
    assert len(encode_flac(smooth, 8000)) < 0.5 * 2 * len(smooth)
    rate, ch, bits, total = parse_flac_streaminfo(encode_flac(sigs[5], 8000))
    assert (rate, ch, bits, total) == (8000, 1, 16, 1337)
    base = bytearray(encode_flac(sigs[5], 8000))
    for pos in range(4, len(base), 61):
        bad = bytearray(base)
        bad[pos] ^= 0x20
        with pytest.raises(DU):
            decode_flac(bytes(bad))


def test_audio_flac_duckdb_oracle_parity(spark, sf_dir):
    """Oracle parity: q_audio_flac vs its closed-form DuckDB
    oracle (the exact oracle compare). FLAC is lossless and the
    decoder md5-verifies each payload, so the oracle recomputes every
    statistic from the square-wave parameters directly — framing is
    pinned via n_frames, and the corrupt lane is a real G.711 WAV, so
    cross-flavor rejection is under the gate too."""
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.flac import q_audio_flac

    docs = load_table(spark, sf_dir, "documents")
    n = _duck_parity(q_audio_flac(docs), FLAC_ORACLE, sf_dir)
    assert n > 0


def test_audio_adpcm_duckdb_oracle_parity(spark, sf_dir):
    """Oracle parity: q_audio_adpcm vs the recursive-CTE
    state-machine replay (the exact oracle compare). This is the
    strongest oracle form in the suite: a STATEFUL codec checked by
    making an independent SQL engine execute the same published
    algorithm step by step, including block resets and fact-chunk
    truncation; the corrupt lane is a real G.711 payload, so
    cross-flavor rejection is under the gate too."""
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.audio import q_audio_adpcm

    docs = load_table(spark, sf_dir, "documents")
    n = _duck_parity(q_audio_adpcm(docs), ADPCM_ORACLE, sf_dir)
    assert n > 0


# --------------------------------------------- oracle-checkable HLL




def test_hll_distinct_duckdb_oracle_parity(spark, sf_dir):
    """Oracle parity: q_hll_distinct vs the full-replay
    DuckDB oracle (the exact oracle compare) — registers, harmonic
    sum, integer alpha correction and the exact twin all match
    bit-for-bit across engines, on the orders table."""
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.sketch import q_hll_distinct

    orders = load_table(spark, sf_dir, "orders")
    n = _duck_parity(
        q_hll_distinct(orders), HLL_ORACLE, sf_dir, tables=("orders",)
    )
    assert n == 5  # one row per order priority


def test_hll_merge_and_accuracy(spark, sf_dir):
    """The sketch contract: (1) MERGEABILITY — registers built on two
    disjoint halves of orders, merged by cell-wise MAX, equal the
    registers built on the whole table (the property that lets 1000
    executors sketch independently and union); (2) ACCURACY — the
    integer-arithmetic estimate lands within the ~1.04/sqrt(m) HLL
    band of the exact count for every group."""
    from pyspark.sql import functions as F

    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.sketch import (
        HLL_M,
        hll_estimate,
        hll_registers,
        q_hll_distinct,
    )

    orders = load_table(spark, sf_dir, "orders")
    half_a = orders.filter(F.col("o_orderkey") % 2 == 0)
    half_b = orders.filter(F.col("o_orderkey") % 2 == 1)
    whole = hll_registers(orders, "o_orderpriority", "o_custkey")
    merged = (
        hll_registers(half_a, "o_orderpriority", "o_custkey")
        .unionByName(hll_registers(half_b, "o_orderpriority", "o_custkey"))
        .groupBy("o_orderpriority", "bucket")
        .agg(F.max("reg").alias("reg"))
    )
    assert whole.exceptAll(merged).count() == 0
    assert merged.exceptAll(whole).count() == 0
    # estimates off the merged registers == the declared query's
    est_cols = ["o_orderpriority", "hll_customers"]
    a = {tuple(r) for r in hll_estimate(merged, "o_orderpriority").select(est_cols).collect()}
    b = {tuple(r) for r in q_hll_distinct(orders).select(est_cols).collect()}
    assert a == b
    # accuracy: 3 standard errors of the m=512 sketch, floored at 15%
    rel_band = max(3 * 1.04 / (HLL_M ** 0.5), 0.15)
    for r in q_hll_distinct(orders).collect():
        assert r["hll_customers"] > 0
        assert abs(r["hll_customers"] - r["exact_customers"]) <= max(
            rel_band * r["exact_customers"], 3
        ), dict(r.asDict())


# ------------------------------------- HDR quantile histogram



def test_hdr_quantiles_duckdb_oracle_parity(spark, sf_dir):
    """Oracle parity: q_hdr_quantiles vs the full-replay
    DuckDB oracle — bucket indexing, cumulative fold, integer-ceiling
    thresholds and lower-bound decode all match bit-for-bit."""
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.sketch import q_hdr_quantiles

    li = load_table(spark, sf_dir, "lineitem")
    n = _duck_parity(q_hdr_quantiles(li), HDR_ORACLE, sf_dir,
                     tables=("lineitem",))
    assert n == 3  # one row per return flag


def test_hdr_sketch_merge_and_error_bound(spark, sf_dir):
    """The quantile-sketch contract: (1) MERGEABILITY — histograms of
    two disjoint halves merged by cell-wise SUM equal the whole-table
    histogram; (2) the log2 boundary safety argument — bucket index
    is exact at every binary boundary up to 2^40 (the float-free
    guarantee hdr_bucket_expr's docstring claims); (3) ERROR BOUND —
    every reported lower bound brackets the true order statistic
    within one bucket width (≤ 1/32 relative)."""
    from pyspark.sql import functions as F

    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.sketch import (
        hdr_bucket_expr,
        hdr_sketch,
        q_hdr_quantiles,
    )

    li = load_table(spark, sf_dir, "lineitem")
    cents = li.select(
        F.col("l_returnflag"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        F.col("l_orderkey"),
    )
    whole = hdr_sketch(cents, "l_returnflag", "cents")
    merged = (
        hdr_sketch(cents.filter(F.col("l_orderkey") % 2 == 0),
                   "l_returnflag", "cents")
        .unionByName(hdr_sketch(cents.filter(F.col("l_orderkey") % 2 == 1),
                                "l_returnflag", "cents"))
        .groupBy("l_returnflag", "idx")
        .agg(F.sum("cnt").alias("cnt"))
    )
    assert whole.exceptAll(merged).count() == 0
    assert merged.exceptAll(whole).count() == 0

    # (2) binary-boundary exactness of the bucket index, both engines
    import duckdb

    vals = []
    for k in range(1, 41):
        vals += [(1 << k) - 1, 1 << k, (1 << k) + 1]
    vdf = spark.createDataFrame([(v,) for v in vals], "v long")
    got = {r["v"]: r["i"] for r in
           vdf.select("v", hdr_bucket_expr("v").alias("i")).collect()}

    def py_idx(v):
        if v < 64:
            return v
        e = v.bit_length() - 1 - 5
        return (e << 6) + (v >> e)

    assert got == {v: py_idx(v) for v in vals}
    con = duckdb.connect()
    for v in vals:
        (dv,) = con.execute(
            f"SELECT CASE WHEN {v} < 64 THEN {v} ELSE "
            f"((CAST(floor(log2({v})) AS BIGINT) - 5) << 6)"
            f" + ({v} >> (CAST(floor(log2({v})) AS BIGINT) - 5)) END"
        ).fetchone()
        assert dv == py_idx(v), v

    # (3) lb brackets the exact order statistic within bucket width
    data = {}
    for r in cents.collect():
        data.setdefault(r["l_returnflag"], []).append(r["cents"])
    for row in q_hdr_quantiles(li).collect():
        xs = sorted(data[row["l_returnflag"]])
        n = len(xs)
        for col, num, den in (("p50_lb", 1, 2), ("p95_lb", 19, 20),
                              ("p99_lb", 99, 100)):
            exact = xs[(num * n + num) // den - 1]
            lb = row[col]
            assert lb <= exact, (col, lb, exact)
            assert exact <= lb + max(lb // 32, 1), (col, lb, exact)


# ----------------------------------------------- HLL rollup




def test_hll_rollup_duckdb_oracle_parity_and_law(spark, sf_dir):
    """Oracle parity: q_hll_rollup vs the two-level DuckDB
    replay, PLUS the rollup law asserted directly — the 'ALL' row's
    registers (recomputed from scratch by the oracle) must equal the
    cell-wise MAX of the per-priority register files (which is how
    the Spark side builds them, with no rescan)."""
    from pyspark.sql import functions as F

    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.sketch import (
        hll_registers,
        q_hll_rollup,
    )

    orders = load_table(spark, sf_dir, "orders")
    n = _duck_parity(q_hll_rollup(orders), HLL_ROLLUP_ORACLE, sf_dir,
                     tables=("orders",))
    assert n == 6  # 5 priorities + ALL
    # the law, independently of the oracle
    per = hll_registers(orders, "o_orderpriority", "o_custkey")
    rolled = {
        (r["bucket"], r["reg"])
        for r in per.groupBy("bucket").agg(F.max("reg").alias("reg")).collect()
    }
    direct = {
        (r["bucket"], r["reg"])
        for r in hll_registers(
            orders.withColumn("o_orderpriority", F.lit("ALL")),
            "o_orderpriority", "o_custkey",
        ).select("bucket", "reg").collect()
    }
    assert rolled == direct


# -------------------------------------------- HLL intersection




def test_hll_intersect_duckdb_oracle_parity_and_sanity(spark, sf_dir):
    """Oracle parity: q_hll_intersect vs the 15-entity DuckDB
    replay. Sanity beyond parity: union estimates dominate both sides
    (monotonicity of MAX-merged registers), and the
    inclusion-exclusion overlap tracks the exact overlap within the
    compounded 3-estimate error band on the fixture."""
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.sketch import q_hll_intersect

    orders = load_table(spark, sf_dir, "orders")
    rows = q_hll_intersect(orders).collect()
    assert len(rows) == 10  # C(5,2) priority pairs
    n = _duck_parity(q_hll_intersect(orders), HLL_INTERSECT_ORACLE, sf_dir,
                     tables=("orders",))
    assert n == 10
    for r in rows:
        assert r["hll_union"] >= max(r["hll_a"], r["hll_b"])
        # compounded error: 3 estimates at ~4.6% each, small-range LC
        # is much tighter; allow the analytic worst case + slack
        band = 0.2 * max(r["hll_a"] + r["hll_b"] - 0, 1)
        assert abs(r["hll_overlap"] - r["exact_overlap"]) <= max(band, 30), (
            dict(r.asDict())
        )


# ------------------------------------------------- netpbm



def test_netpbm_codec_roundtrip_and_grammar():
    """All four variants roundtrip arbitrary rasters; the header
    grammar survives comments between ANY tokens and the
    binary-raster-starts-with-whitespace-byte trap; foreign and
    malformed payloads raise DecodeUnavailable."""
    import numpy as np

    from node_js_etl_processor_spark.operators.multimodal import (
        DecodeUnavailable as DU,
        encode_bmp,
    )
    from node_js_etl_processor_spark.operators.netpbm import (
        decode_netpbm,
        encode_netpbm,
    )

    rng = np.random.RandomState(3)
    color = rng.randint(0, 256, (5, 7, 3)).astype(np.uint8)
    gray = rng.randint(0, 256, (4, 6)).astype(np.uint8)
    for magic, px in (("P6", color), ("P3", color), ("P5", gray), ("P2", gray)):
        arr, got_magic, maxval = decode_netpbm(
            encode_netpbm(px, magic, comment="round trip # tricky")
        )
        assert (got_magic, maxval) == (magic, 255)
        assert (arr == px).all()
    # raster whose first byte IS a whitespace value (0x20): the single
    # header-terminator rule must not eat it
    tricky = np.full((2, 2), 0x20, dtype=np.uint8)
    arr, _, _ = decode_netpbm(encode_netpbm(tricky, "P5"))
    assert (arr == 0x20).all()
    # comments woven between header tokens
    manual = b"P5 # c1\n# c2\n 3\n# mid\n2 255\n" + bytes(6)
    arr, magic, _ = decode_netpbm(manual)
    assert magic == "P5" and arr.shape == (2, 3) and int(arr.sum()) == 0
    for bad in (
        encode_bmp(np.zeros((2, 2, 3), np.uint8)),  # foreign format
        b"P6\n3 2\n65535\n" + bytes(12),  # 16-bit maxval unsupported
        b"P5\n3 2\n255\n" + bytes(3),  # truncated raster
        b"P2\n2 2\n255\n1 2 3",  # truncated ascii raster
        b"P3\n2 x\n255\n1 2 3",  # non-decimal token
        None,
    ):
        import pytest as _pytest

        with _pytest.raises(DU):
            decode_netpbm(bad)


def test_netpbm_duckdb_oracle_parity(spark, sf_dir):
    """Oracle parity: q_netpbm_features vs the closed-form
    oracle — binary AND ascii encode/decode, comment grammar, exact
    pixel sums, decoded-raster digests and BMP rejection, the
    exact oracle compare."""
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.netpbm import q_netpbm_features

    docs = load_table(spark, sf_dir, "documents")
    n = _duck_parity(q_netpbm_features(docs), NETPBM_ORACLE, sf_dir)
    assert n > 0


# ---------------------------------------------- audio dispatch



def test_au_container_roundtrip_and_rejection():
    """Sun AU container: all three encodings roundtrip through the
    pinned G.711 expanders / big-endian PCM; truncated and unknown-
    encoding payloads raise DecodeUnavailable."""
    import numpy as np
    import pytest as _pytest

    from node_js_etl_processor_spark.operators.audio import (
        AU_ENC_ALAW,
        AU_ENC_MULAW,
        AU_ENC_PCM16,
        alaw_decode,
        alaw_encode,
        decode_au,
        encode_au,
        mulaw_decode,
        mulaw_encode,
    )
    from node_js_etl_processor_spark.operators.multimodal import (
        DecodeUnavailable as DU,
    )

    rng = np.random.RandomState(5)
    sig = (np.sin(np.linspace(0, 30, 700)) * 11000
           + rng.randint(-300, 300, 700)).astype(np.int16)
    arr, rate, name = decode_au(encode_au(sig, 8000, AU_ENC_PCM16))
    assert (name, rate) == ("pcm16", 8000)
    assert (arr.reshape(-1) == sig).all()  # PCM16 is lossless
    arr, _, name = decode_au(encode_au(sig, 16000, AU_ENC_MULAW))
    assert name == "mulaw"
    assert (arr.reshape(-1) == mulaw_decode(mulaw_encode(sig))).all()
    arr, _, name = decode_au(encode_au(sig, 16000, AU_ENC_ALAW))
    assert name == "alaw"
    assert (arr.reshape(-1) == alaw_decode(alaw_encode(sig))).all()
    for bad in (b".sn", b".snd" + bytes(8),
                b".snd" + __import__("struct").pack(">IIIII", 24, 4, 99, 8000, 1) + bytes(4),
                b"RIFFnope", None):
        with _pytest.raises(DU):
            decode_au(bad)


def test_audio_probe_duckdb_oracle_parity(spark, sf_dir):
    """Oracle parity: q_audio_probe vs the closed-form
    dispatch oracle — all seven real container/codec pairs identified
    with correct geometry WITHOUT sample decode, and the FLAC lane
    lands as ok=false WITH the container recognized (the honest
    boundary, machine-checked)."""
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.audio import q_audio_probe

    docs = load_table(spark, sf_dir, "documents")
    n = _duck_parity(q_audio_probe(docs), AUDIO_PROBE_ORACLE, sf_dir)
    assert n > 0


# --------------------------------------------- HLL timeline
# HLL_TIMELINE_ORACLE lives in __spark_entry__.py — imported above,
# single source of truth.


def test_hll_timeline_duckdb_oracle_parity_and_rollup_law(spark, sf_dir):
    """Oracle parity (oracle imported from __spark_entry__, the same
    SQL the registry runs): q_hll_timeline vs the two-level DuckDB
    replay over events (the oracle recomputes the month level from
    scratch; the Spark side folds stored day registers — equality IS
    the temporal rollup law). Plus: day and month rows both present,
    and month exact ≥ any of its days' exacts."""
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.sketch import q_hll_timeline

    events = load_table(spark, sf_dir, "events")
    rows = q_hll_timeline(events).collect()
    days = [r for r in rows if r["level"] == "day"]
    months = [r for r in rows if r["level"] == "month"]
    assert days and months
    for m in months:
        day_max = max(
            (d["exact_users"] for d in days
             if d["period"].startswith(m["period"])), default=0
        )
        assert m["exact_users"] >= day_max
    n = _duck_parity(q_hll_timeline(events), HLL_TIMELINE_ORACLE, sf_dir,
                     tables=("events",))
    assert n == len(rows)


# --------------------------------------------------- TIFF
# TIFF_ORACLE lives in __spark_entry__.py — imported above, single
# source of truth.


def test_tiff_codec_roundtrip_both_orders_and_strips():
    """Both byte orders roundtrip arbitrary RGB and gray rasters,
    single- and multi-strip (offset tables behind the inline-4-byte
    boundary); malformed headers, bad magic, out-of-bounds IFDs and
    foreign payloads raise DecodeUnavailable."""
    import numpy as np
    import pytest as _pytest

    from node_js_etl_processor_spark.operators.multimodal import (
        DecodeUnavailable as DU,
        encode_bmp,
    )
    from node_js_etl_processor_spark.operators.tiff import (
        decode_tiff,
        encode_tiff,
    )

    rng = np.random.RandomState(9)
    color = rng.randint(0, 256, (6, 5, 3)).astype(np.uint8)
    gray = rng.randint(0, 256, (7, 8)).astype(np.uint8)
    for order in ("II", "MM"):
        for px, rps, want_strips in (
            (color, None, 1), (gray, None, 1), (color, 2, 3), (gray, 3, 3)
        ):
            arr, got_order, n_strips = decode_tiff(
                encode_tiff(px, order, rows_per_strip=rps)
            )
            assert (got_order, n_strips) == (order, want_strips)
            assert (arr == px).all()
    for bad in (
        encode_bmp(np.zeros((2, 2, 3), np.uint8)),
        b"II*\x00",
        b"MM\x00\x2a\xff\xff\xff\xff",
        b"II\x2a\x00\x08\x00\x00\x00\xff\xff",  # IFD past the end
        None,
    ):
        with _pytest.raises(DU):
            decode_tiff(bad)


def test_tiff_duckdb_oracle_parity(spark, sf_dir):
    """Oracle parity (oracle imported from __spark_entry__, the same
    SQL the registry runs): q_tiff_features vs the closed-form
    oracle — both endiannesses, strip segmentation (ceil(h/2) strips
    on the gray variants), exact pixel sums, raster digests and
    netpbm rejection, the exact oracle compare."""
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.tiff import q_tiff_features

    docs = load_table(spark, sf_dir, "documents")
    n = _duck_parity(q_tiff_features(docs), TIFF_ORACLE, sf_dir)
    assert n > 0


def test_probe_and_codec_malformed_header_hardening():
    """Regression pins for the second self-review pass: every
    malformed-header shape that previously leaked a raw struct/
    ZeroDivision/IndexError (or silently succeeded) must land as
    DecodeUnavailable — the distributed passes catch exactly that."""
    import struct as _struct

    import pytest as _pytest

    from node_js_etl_processor_spark.operators.audio import probe_audio
    from node_js_etl_processor_spark.operators.multimodal import (
        DecodeUnavailable as DU,
    )
    from node_js_etl_processor_spark.operators.netpbm import decode_netpbm
    from node_js_etl_processor_spark.operators.tiff import decode_tiff

    # probe_audio: truncated AU header (was struct.error)
    with _pytest.raises(DU):
        probe_audio(b".snd" + bytes(8))
    # probe_audio: AU data offset past the payload (was ok=true with
    # NEGATIVE n_samples)
    with _pytest.raises(DU):
        probe_audio(
            b".snd" + _struct.pack(">IIIII", 1000, 0xFFFFFFFE, 1, 8000, 1)
        )
    # probe_audio: WAV declaring zero channels (was ZeroDivisionError)
    fmt = _struct.pack("<HHIIHH", 1, 0, 8000, 0, 0, 16)
    body = (b"WAVE" + b"fmt " + _struct.pack("<I", len(fmt)) + fmt
            + b"data" + _struct.pack("<I", 4) + bytes(4))
    with _pytest.raises(DU):
        probe_audio(b"RIFF" + _struct.pack("<I", len(body)) + body)
    # decode_tiff: IFD entry with count=0 (was IndexError)
    ifd = (
        _struct.pack("<H", 1)
        + _struct.pack("<HHI", 256, 4, 0) + bytes(4)
        + _struct.pack("<I", 0)
    )
    with _pytest.raises(DU):
        decode_tiff(b"II" + _struct.pack("<HI", 42, 8) + ifd)
    # decode_netpbm: int()-leniency tokens must NOT parse ('+3', '2_0')
    with _pytest.raises(DU):
        decode_netpbm(b"P5\n+3 2 255\n" + bytes(6))
    with _pytest.raises(DU):
        decode_netpbm(b"P5\n3 2_0 255\n" + bytes(60))


def test_gif_allocation_bomb_refused():
    """Regression pin (found by adversarial fuzz): a 20-byte payload
    declaring a 35852x29309 logical screen made decode_gif allocate a
    ~3 GB canvas before validating any frame data — an executor
    memory/time bomb. The decoder now refuses rasters the payload's
    LZW data could not possibly fill (> 16384 pixels per payload
    byte), instantly and as DecodeUnavailable; real media (where
    pixels ≪ bytes · 16384) is unaffected."""
    import time

    import pytest as _pytest

    from node_js_etl_processor_spark.operators.gif import decode_gif
    from node_js_etl_processor_spark.operators.multimodal import (
        DecodeUnavailable as DU,
    )

    bomb = b"GIF89a\x0c\x8c}rG4,\xd8\x10\x0f/ow\r"
    t0 = time.time()
    with _pytest.raises(DU):
        decode_gif(bomb)
    assert time.time() - t0 < 0.5


# ------------------------------------ heavy hitters, image probe, setsim


def test_heavy_hitters_skewed_certified_oracle_parity(spark, sf_dir):
    """Oracle parity: the Misra-
    Gries CERTIFIED path — per-partition summaries with real counter
    evictions, parameter-sized merge, guarantee check PASSES,
    broadcast-filtered exact recount — under the DuckDB oracle, not
    just a unit pin. The skewed key is closed-form in o_orderkey
    (12 heavy residues carrying 3/4 of the mass + a unique tail), so
    the oracle is one CASE + GROUP BY/ORDER BY/LIMIT. The certified
    branch being TAKEN is asserted via heavy_hitters_plan on the same
    derivation."""
    from __spark_entry__ import HEAVY_HITTERS_SKEWED_ORACLE
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.heavy import (
        SKEW_CAPACITY,
        heavy_hitters_plan,
        q_heavy_hitters_skewed,
        skewed_order_keys,
    )

    orders = load_table(spark, sf_dir, "orders")
    n = _duck_parity(
        q_heavy_hitters_skewed(orders),
        HEAVY_HITTERS_SKEWED_ORACLE,
        sf_dir,
        tables=("orders",),
    )
    assert n == 10
    _res, certified = heavy_hitters_plan(
        skewed_order_keys(orders), "key", k=10, capacity=SKEW_CAPACITY
    )
    assert certified is True
    # ... and the partials stay capacity-bounded per partition (the
    # parameter-sized-merge claim; the eviction dynamics themselves
    # are pinned by test_heavy_hitters_mg_guarantee_and_fallback)
    from node_js_etl_processor_spark.operators.heavy import mg_partials

    partials = mg_partials(skewed_order_keys(orders), "key", capacity=SKEW_CAPACITY)
    parts = partials.toPandas()
    per_part = parts[parts["key"].notna()]
    n_parts = partials.rdd.getNumPartitions()
    assert len(per_part) <= (SKEW_CAPACITY + 1) * n_parts
    # (the honest can't-certify fallback is pinned on tiny-capacity
    # data in test_heavy_hitters_mg_guarantee_and_fallback; at tiny SF
    # the near-uniform fixture certifies trivially — threshold
    # N/(cap+1) rounds to 0 — so no fixture-based branch assertion
    # here)


def test_heavy_hitters_null_and_noncastable_keys_consistent(spark):
    """NULL (and non-long-castable) keys must be
    invisible in BOTH execution branches — previously the MG pass
    could never certify NULL while the fallback groupBy counted it as
    a group, making the sketch visible. Both branches now normalize
    the key up front: cast to long, drop nulls."""
    from node_js_etl_processor_spark.operators.heavy import heavy_hitters_plan

    # frequent NULL + skewed real keys -> certified branch on a key
    # set where NULL would have dominated
    keys = [None] * 500 + [1] * 300 + [2] * 200 + list(range(100, 400))
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    res_cert, cert = heavy_hitters_plan(df, "k", k=2, capacity=64)
    rows_cert = [(r["k"], r["cnt"]) for r in res_cert.collect()]
    # tiny capacity forces the fallback on the same data
    res_fb, cert_fb = heavy_hitters_plan(df, "k", k=2, capacity=1)
    rows_fb = [(r["k"], r["cnt"]) for r in res_fb.collect()]
    assert rows_cert == rows_fb == [(1, 300), (2, 200)]
    assert cert is True and cert_fb is False
    # non-long-castable keys drop consistently too (cast first)
    df2 = spark.createDataFrame(
        [(k,) for k in ["7"] * 5 + ["x"] * 9 + ["3"] * 2], "k string"
    )
    got = [
        (r["k"], r["cnt"])
        for r in heavy_hitters_plan(df2, "k", k=3, capacity=2048)[0].collect()
    ]
    assert got == [(7, 5), (3, 2)]


def test_image_probe_duckdb_oracle_parity(spark, sf_dir):
    """Oracle parity: q_image_probe
    vs the closed-form dispatch replay — container/flavor/geometry
    per lane, with the WebP and progressive-JPEG rows surfacing as
    ok=false WITH the container named."""
    from __spark_entry__ import IMAGE_PROBE_ORACLE
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.image_probe import q_image_probe

    docs = load_table(spark, sf_dir, "documents")
    n = _duck_parity(q_image_probe(docs), IMAGE_PROBE_ORACLE, sf_dir)
    assert n > 0


def test_probe_image_dispatch_and_refusals():
    """probe_image: every encoder roundtrips to its own (container,
    flavor, geometry) WITHOUT pixel decode; recognized-but-refused
    flavors raise DecodeUnavailable but name their container through
    _recognized_image_container; junk is not recognized at all."""
    import struct as _struct

    import numpy as np
    import pytest as _pytest

    from node_js_etl_processor_spark.operators.gif import encode_gif
    from node_js_etl_processor_spark.operators.image_probe import (
        WEBP_STUB,
        _recognized_image_container,
        probe_image,
    )
    from node_js_etl_processor_spark.operators.jpeg import encode_jpeg_baseline
    from node_js_etl_processor_spark.operators.multimodal import (
        DecodeUnavailable as DU,
        encode_bmp,
        encode_png,
    )
    from node_js_etl_processor_spark.operators.netpbm import encode_netpbm
    from node_js_etl_processor_spark.operators.tiff import encode_tiff

    gray = np.arange(35, dtype=np.uint8).reshape(5, 7)
    rgb = np.stack([gray, gray, gray], axis=2)
    two_tone = np.where(rgb >= 16, 200, 40).astype(np.uint8)
    cases = [
        (encode_netpbm(gray, "P5"), ("netpbm", "P5", 7, 5, 1, 8)),
        (encode_netpbm(rgb, "P6"), ("netpbm", "P6", 7, 5, 3, 8)),
        (encode_netpbm(gray, "P2"), ("netpbm", "P2", 7, 5, 1, 8)),
        (encode_bmp(rgb), ("bmp", "bgr24", 7, 5, 3, 8)),
        (encode_png(rgb), ("png", "rgb8", 7, 5, 3, 8)),
        (encode_gif(two_tone), ("gif", "89a", 7, 5, 3, 8)),
        (encode_tiff(gray, "II"), ("tiff", "II", 7, 5, 1, 8)),
        (encode_tiff(rgb, "MM"), ("tiff", "MM", 7, 5, 3, 8)),
        (encode_jpeg_baseline(rgb), ("jpeg", "baseline", 7, 5, 3, 8)),
    ]
    for payload, want in cases:
        assert probe_image(payload) == want
    # recognized refusals: container named, probe refuses
    refusals = [
        (WEBP_STUB, "webp"),
        (b"P1\n3 2\n" + b"0 1 0 1 0 1\n", "netpbm"),
        (b"P4\n8 2\n" + bytes(2), "netpbm"),
        # progressive JPEG: SOI + SOF2
        (
            b"\xff\xd8\xff\xc2"
            + _struct.pack(">H", 2 + 6 + 9)
            + _struct.pack(">BHHB", 8, 8, 8, 3)
            + bytes(9),
            "jpeg",
        ),
    ]
    for payload, container in refusals:
        with _pytest.raises(DU):
            probe_image(payload)
        assert _recognized_image_container(payload) == container
    # interlaced PNG: flip the IHDR interlace byte of a real encode
    png = bytearray(encode_png(rgb))
    ihdr_at = png.index(b"IHDR")
    png[ihdr_at + 4 + 12] = 1  # interlace flag inside IHDR data
    with _pytest.raises(DU):
        probe_image(bytes(png))
    assert _recognized_image_container(bytes(png)) == "png"
    # junk: not recognized at all
    assert _recognized_image_container(b"\x00\x01junkjunk") is None
    with _pytest.raises(DU):
        probe_image(b"\x00\x01junkjunk")


def test_probe_and_decode_jpeg_skip_fill_bytes():
    """Spec-legal 0xFF fill bytes before a
    marker (ITU T.81 B.1.1.2) must be consumed by BOTH the headers-only
    probe and decode_jpeg — a padded real-world baseline JPEG probes
    and decodes identically to the unpadded encode; all-fill tails
    refuse with DecodeUnavailable, never a struct/index error."""
    import numpy as np
    import pytest as _pytest

    from node_js_etl_processor_spark.operators.image_probe import (
        decode_raster,
        probe_image,
    )
    from node_js_etl_processor_spark.operators.jpeg import encode_jpeg_baseline
    from node_js_etl_processor_spark.operators.multimodal import (
        DecodeUnavailable as DU,
    )

    gray = np.arange(35, dtype=np.uint8).reshape(5, 7)
    rgb = np.stack([gray, gray, gray], axis=2)
    base = encode_jpeg_baseline(rgb)
    want = probe_image(base)
    pixels = decode_raster(base)
    # one fill byte after SOI, three fill bytes, and a fill run right
    # before the SOF0 marker (header section — precedes the scan)
    sof_at = base.index(b"\xff\xc0")
    padded_variants = [
        base[:2] + b"\xff" + base[2:],
        base[:2] + b"\xff\xff\xff" + base[2:],
        base[:sof_at] + b"\xff\xff" + base[sof_at:],
    ]
    for padded in padded_variants:
        assert probe_image(padded) == want
        assert np.array_equal(decode_raster(padded), pixels)
    # trailing fill bytes with no marker id: clean refusal both paths
    for junk in (b"\xff\xd8" + b"\xff" * 5, base[:2] + b"\xff"):
        for fn in (probe_image, decode_raster):
            with _pytest.raises(DU):
                fn(junk)


def test_decode_raster_dispatch_cross_format_identity():
    """decode_raster: the SAME picture encoded in all five lossless
    containers decodes to pixel-identical rasters (gray or gray
    replicated to RGB) — the property the mixed-format dedup synth
    rides; JPEG (lossy) routes but is not pixel-pinned."""
    import numpy as np
    import pytest as _pytest

    from node_js_etl_processor_spark.operators.gif import encode_gif
    from node_js_etl_processor_spark.operators.image_probe import (
        WEBP_STUB,
        decode_raster,
    )
    from node_js_etl_processor_spark.operators.multimodal import (
        DecodeUnavailable as DU,
        encode_bmp,
        encode_png,
    )
    from node_js_etl_processor_spark.operators.netpbm import encode_netpbm
    from node_js_etl_processor_spark.operators.tiff import encode_tiff

    gray = np.where((np.arange(48).reshape(6, 8) % 5) < 2, 40, 200).astype(
        np.uint8
    )
    rgb = np.stack([gray, gray, gray], axis=2)
    assert np.array_equal(decode_raster(encode_netpbm(gray, "P5")), gray)
    assert np.array_equal(decode_raster(encode_tiff(gray, "II")), gray)
    for payload in (encode_png(rgb), encode_bmp(rgb), encode_gif(rgb)):
        assert np.array_equal(decode_raster(payload), rgb)
    with _pytest.raises(DU):
        decode_raster(WEBP_STUB)
    with _pytest.raises(DU):
        decode_raster(None)


def test_image_neardup_key_cap_graceful(spark):
    """The dHash band join's hot-key
    posting cap. Adversarial templated corpus — many images sharing
    ONE 16-bit band value (band 0) while differing elsewhere — would
    pay g^2 candidates at that key; with key_cap the hot key's
    postings drop and pairs are still found through the remaining <=
    cap bands (graceful recall), while the exact default is
    unchanged on non-adversarial data."""
    import pandas as pd

    from node_js_etl_processor_spark.operators.phash import (
        image_near_dup_pairs,
    )

    # 40 hashes sharing band 0 (0xaaaa) and band 1 (0x1111); bands
    # 2/3 differ pairwise by > 3 bits except one planted near pair
    rows = []
    for i in range(40):
        tail = f"{(i * 2654435761) & 0xFFFFFFFF:08x}"
        rows.append({"media_id": i, "ok": "true", "dhash": "aaaa1111" + tail})
    # planted: 100/101 differ ONLY in band 3's lowest bit
    rows.append({"media_id": 100, "ok": "true", "dhash": "aaaa11112222000%d" % 0})
    rows.append({"media_id": 101, "ok": "true", "dhash": "aaaa11112222000%d" % 1})
    hashed = spark.createDataFrame(pd.DataFrame(rows))
    exact = {
        (r["id_a"], r["id_b"])
        for r in image_near_dup_pairs(hashed).collect()
    }
    assert (100, 101) in exact
    capped = {
        (r["id_a"], r["id_b"])
        for r in image_near_dup_pairs(hashed, key_cap=8).collect()
    }
    # the planted pair survives the cap through bands 2 and 3
    # (only 2 postings at ('2222', band 2) etc -- far under cap)
    assert (100, 101) in capped
    # capped output is a subset of exact (cap only ever drops)
    assert capped <= exact


def test_setsim_join_duckdb_oracle_parity(spark, sf_dir):
    """Oracle parity: q_setsim_join (prefix-filtered exact
    Jaccard self-join) vs the BRUTE-FORCE token self-join oracle —
    the prefix-filtering completeness lemma is cross-checked against
    an algorithm that never prunes, with all-integer outputs so the
    compare is exact."""
    from __spark_entry__ import SETSIM_ORACLE
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.setsim import q_setsim_join

    docs = load_table(spark, sf_dir, "documents")
    n = _duck_parity(q_setsim_join(docs), SETSIM_ORACLE, sf_dir)
    assert n > 0


def test_setsim_join_handpinned_and_rare_first(spark):
    """setsim_join semantics on hand-computed sets: identical token
    sets COLLAPSE to their min-doc_id representative (group_n carries
    the multiplicity — J=1 never reaches the join), exact near-dup
    pairs emit at t=3/5 between distinct sets, hot tokens never block
    (the global rare-first order puts maximal-df tokens LAST, outside
    every multi-token prefix), and a pair below threshold that shares
    only the hot token is correctly absent."""
    from node_js_etl_processor_spark.operators.setsim import (
        exact_set_reps,
        packed_sets,
        setsim_join,
    )

    rows = [
        (0, "the apple pie recipe"),          # {the, apple, pie, recipe}
        (1, "the apple pie recipe"),          # duplicate -> collapses into 0
        (2, "the apple pie recipes"),         # 3/5 overlap with 0 -> J=0.6
        (3, "the zebra quantum flux"),        # shares only 'the' with 0
        (4, "the"),                           # single-token doc
        (5, "the"),                           # duplicate -> collapses into 4
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    reps = {
        r["doc_id"]: r["group_n"]
        for r in exact_set_reps(packed_sets(docs)).collect()
    }
    assert reps == {0: 2, 2: 1, 3: 1, 4: 2}  # 1 and 5 collapsed
    got = {
        (r["doc_a"], r["doc_b"]): (
            r["inter"], r["union_sz"], r["group_a"], r["group_b"]
        )
        for r in setsim_join(docs, 3, 5).collect()
    }
    # the ONLY distinct-set pair at J >= 0.6, with both group sizes
    assert got == {(0, 2): (3, 5, 2, 1)}


def test_packed_sets_drops_zero_token_docs(spark):
    """The row-local packed_sets must keep the old
    explode→groupBy semantics for zero-token documents — a
    whitespace-only doc has NO token set and must not surface as an
    sz=0 probe rep in containment_decon (the oracle builds probe sets
    from unnest() and never sees it)."""
    from node_js_etl_processor_spark.operators.setsim import (
        containment_decon,
        packed_sets,
    )

    rows = [
        (0, "alpha beta gamma"),
        (10, "   "),       # whitespace-only: zero tokens
        (20, ""),          # empty text
        (30, "alpha beta gamma delta"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    assert {r["doc_id"] for r in packed_sets(docs).collect()} == {0, 30}
    got = {
        r["probe_id"]
        for r in containment_decon(
            docs.filter("doc_id % 10 = 0"), docs.filter("doc_id % 10 != 0"),
            3, 4,
        ).collect()
    }
    assert got == {0, 30}  # 10 and 20 excluded, clean rows included


def test_kmv_set_difference_raises_on_absent_group(spark):
    """Differencing against a group absent from the
    sketch frame raises loudly instead of emitting rows that assert
    the nonexistent set is a strict subset of the other."""
    import pytest as _pytest

    from node_js_etl_processor_spark.operators.kmv import (
        kmv_set_difference,
        kmv_sketch,
    )

    df = spark.createDataFrame(
        [("F", f"u{i}") for i in range(5)], "g string, key string"
    )
    sk = kmv_sketch(df, "g", "key")
    with _pytest.raises(ValueError, match=r"\['O'\] absent"):
        kmv_set_difference(sk, "F", "O", "F-O", "O-F")


def test_setsim_pigeonhole_matches_prefix_path(spark):
    """Pigeonhole signature join, completeness against the proven
    prefix path: both candidate generators are exact, so routing the
    SAME randomized near-dup corpus through each must produce
    identical verified output. The corpus is built adversarially for
    the signature scheme — a tiny hot vocabulary (every prefix token
    collides), sizes straddling the k(s) = ⌊s/19⌋+1 group-count
    steps (18/19/20, 37/38/39 tokens), exact-twin groups for the
    collapse, boundary pairs at exactly J = t and one token below."""
    import itertools

    from node_js_etl_processor_spark.operators.setsim import (
        _pigeonhole_candidates,
        _prefix_candidates,
        _rep_sets,
        _verify_candidates,
    )

    vocab = [f"w{i:02d}" for i in range(45)]
    rows, did = [], 0

    def add(toks, times=1):
        nonlocal did
        for _ in range(times):
            rows.append((did, " ".join(toks)))
            did += 1

    # base sets at the k-step sizes, each with a 1-miss neighbor
    # (J = (s-1)/(s+1): qualifies at 19/20 only for s >= 39) and a
    # superset neighbor (J = s/(s+1): qualifies for s >= 19)
    for s in (18, 19, 20, 37, 38, 39):
        base = vocab[:s]
        add(base, times=2)                      # exact twins collapse
        add(base[:-1] + [vocab[s]])             # 1-out-1-in neighbor
        add(base + [vocab[s + 1]])              # superset neighbor
    # a clique of 4 supersets of the 39-token base — all pairwise J
    # in {39/40, 39/41, 40/41}
    for extra in itertools.combinations(vocab[40:44], 1):
        add(vocab[:39] + list(extra))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    for t_num, t_den in ((19, 20), (9, 10), (1, 1)):
        reps = _rep_sets(docs)
        # max_sz is a routing HINT between the two signature
        # builders (expression vs hash-aggregated) — force EACH route
        # end-to-end against the prefix path, so the aggregated
        # builder's completeness (empty-group reconstruction
        # included) is gated here too, not just row-identity-pinned
        for forced_max in (1, 10**6):
            via_pigeon = _verify_candidates(
                reps,
                _pigeonhole_candidates(
                    reps, t_num, t_den, max_sz=forced_max
                ),
                t_num,
                t_den,
            )
            via_prefix = _verify_candidates(
                reps, _prefix_candidates(reps, t_num, t_den), t_num, t_den
            )
            got_p = sorted(tuple(r) for r in via_pigeon.collect())
            got_x = sorted(tuple(r) for r in via_prefix.collect())
            assert got_p == got_x, (
                f"paths diverge at t={t_num}/{t_den}, max_sz={forced_max}"
            )
            if (t_num, t_den) == (19, 20):
                assert got_p, "expected qualifying pairs at 19/20"


def test_setsim_signature_builders_row_identity(spark):
    """The hash-aggregated signature
    builder must emit EXACTLY the rows of the projection-only
    expression enumeration — empty groups (digest 0) included — for
    both the index-side k-range and the degenerate probe range,
    across a randomized mixed-size corpus and both gated thresholds.
    Row identity is what makes ``max_sz`` a pure routing hint in
    ``_pigeonhole_candidates``. One document is CRAFTED so a hash
    group is provably empty (10 tokens whose 60-bit digests are all
    even → gid 1 empty at k = 2), pinning that the aggregated
    builder's grid-reconstruction branch is actually exercised, not
    just compiled."""
    import hashlib
    import random

    from node_js_etl_processor_spark.operators.setsim import (
        _rep_sets,
        _signature_rows,
        _signature_rows_expr,
    )

    def dig(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)

    rng = random.Random(20)
    vocab = [f"v{i:03d}" for i in range(400)]
    rows, did = [], 0
    for _ in range(60):
        s = rng.choice([3, 18, 19, 20, 40, 75, 150, 260])
        rows.append((did, " ".join(rng.sample(vocab, s))))
        did += 1
    # the crafted empty-group doc: 10 even-digest tokens → at
    # t = 9/10 its probe k is 10 div 9 + 1 = 2 and group 1 is empty
    even = [t for i in range(10_000) if (dig(t := f"e{i}") % 2 == 0)][:10]
    assert len(even) == 10
    rows.append((did, " ".join(even)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    reps = _rep_sets(docs)

    for t_num, t_den in ((19, 20), (9, 10)):
        d = t_den - t_num
        lo = (
            f"((sz * {t_num} + {t_den - 1}) div {t_den})"
            f" * {d} div {t_num} + 1"
        )
        hi = f"sz * {d} div {t_num} + 1"
        for a, b in ((lo, hi), (hi, hi)):
            agg_rows = sorted(
                tuple(r) for r in _signature_rows(reps, a, b).collect()
            )
            exp_rows = sorted(
                tuple(r)
                for r in _signature_rows_expr(reps, a, b).collect()
            )
            assert agg_rows == exp_rows and len(agg_rows) > 0, (
                f"builders diverge at t={t_num}/{t_den}, range=({a},{b})"
            )
        if (t_num, t_den) == (9, 10):
            # the crafted doc's empty group must surface as an
            # explicit (k=2, gid=1, gdig=0) row in BOTH builders
            probe = _signature_rows(reps, hi, hi).filter(
                (F.col("sz") == 10) & (F.col("k") == 2)
            )
            got = {(r["gid"], r["gdig"]) for r in probe.collect()}
            assert (1, 0) in got, got


def test_setsim_bloom_bound_keeps_budget_boundary_pairs(spark):
    """Bloom miss-count bound, losslessness at the budget
    boundary: a strict-containment pair A ⊂ B with |B| = |A| + 1 at
    t = |A|/|B| sits EXACTLY at the miss budget (0 misses on A's
    side, 1 on B's) — the bound must keep it; and a pair one token
    further apart must still be pruned/verified away identically.
    The DuckDB parity sweep covers completeness statistically; this
    pins the two boundary cases by hand."""
    from node_js_etl_processor_spark.operators.setsim import setsim_join

    rows = [
        (0, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        # superset: the 10 tokens of doc 0 plus one — J = 10/11
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa extra"),
        # two extra tokens — J = 10/12 < 10/11, must NOT be paired
        # with doc 0 at t = 10/11
        (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa extra more"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_a"], r["doc_b"]): (r["inter"], r["union_sz"])
        for r in setsim_join(docs, 10, 11).collect()
    }
    # (0,1) at exactly J = 10/11 survives every filter incl. bloom;
    # (1,2) has J = 11/12 >= 10/11 too (11·11=121 ≥ 120=12·10) — both
    # boundary pairs kept; (0,2) at 10/12 correctly absent
    assert got == {(0, 1): (10, 11), (1, 2): (11, 12)}


def test_containment_decon_duckdb_oracle_parity(spark, sf_dir):
    """Oracle parity: q_containment_decon (asymmetric prefix-
    filtered containment) vs the brute-force probe×train token join —
    the asymmetric prefix lemma's completeness cross-checked probe
    for probe, clean probes included."""
    from __spark_entry__ import CONTAINMENT_ORACLE
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.setsim import (
        q_containment_decon,
    )

    docs = load_table(spark, sf_dir, "documents")
    n = _duck_parity(q_containment_decon(docs), CONTAINMENT_ORACLE, sf_dir)
    assert n > 0


def test_containment_decon_handpinned(spark):
    """containment_decon semantics on hand-computed sets: a probe
    fully inside a train doc is contaminated at c=3/5 and 1/1; a probe
    sharing 3 of its 5 tokens clears 3/5 but not 4/5; a CLEAN probe
    (no shared rare tokens) emits n_contaminated=0 / first_hit NULL;
    exact-dup probes collapse (group_n); and containment is
    ASYMMETRIC — a train doc containing the probe counts even though
    the probe covers almost none of the train doc."""
    from node_js_etl_processor_spark.operators.setsim import containment_decon

    probes = spark.createDataFrame(
        [
            (0, "alpha beta gamma"),                 # subset of train 100
            (10, "alpha beta gamma"),                # exact dup of probe 0
            (20, "alpha beta delta epsilon zeta"),   # 3/5 in train 100
            (30, "qq ww ee rr"),                     # clean
        ],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            (100, "alpha beta gamma delta many other words here indeed"),
            (101, "totally different content"),
        ],
        "doc_id long, text string",
    )
    rows = {
        r["probe_id"]: (
            r["sz"], r["group_n"], r["n_contaminated"], r["first_hit"]
        )
        for r in containment_decon(probes, train, 3, 5).collect()
    }
    # probes 0/10 collapse to rep 0 with group_n 2; fully contained
    assert rows[0] == (3, 2, 1, 100)
    assert 10 not in rows
    # 3 of 5 tokens (alpha beta delta) in train 100 -> J_c = 3/5 >= 3/5
    assert rows[20] == (5, 1, 1, 100)
    # clean probe: emitted with zero hits and NULL first_hit
    assert rows[30] == (4, 1, 0, None)
    # at c=4/5 the 3/5 probe is clean, the subset probe still hits
    rows45 = {
        r["probe_id"]: r["n_contaminated"]
        for r in containment_decon(probes, train, 4, 5).collect()
    }
    assert rows45 == {0: 1, 20: 0, 30: 0}


# ---------------------------------------------------------------------------
# KMV theta sketch, interval coverage, skyline
# ---------------------------------------------------------------------------


def test_kmv_bottom_k_matches_naive_and_exact_branch(spark):
    """kmv_bottom_k: the salted two-phase form returns EXACTLY the k
    smallest distinct hashes per group (equal to the naive global
    sort), and an unsaturated sketch yields theta = 2^48 with an
    exact estimate."""
    from pyspark.sql import functions as F

    from node_js_etl_processor_spark.operators.kmv import (
        KMV_SCALE,
        kmv_bottom_k,
        kmv_entries,
        kmv_hash,
        kmv_sketch,
        kmv_theta,
    )

    # deterministic pseudo-random keys: 600 distinct in group a,
    # 17 distinct (< k) in group b
    rows = [("a", f"key-{i * 7919 % 6007}") for i in range(600)] + [
        ("b", f"kb-{i}") for i in range(17)
    ]
    df = spark.createDataFrame(rows, "g string, key string")
    hashed = df.select("g", kmv_hash(F.col("key")).alias("h")).distinct()
    got = {
        (r["g"], r["rn"]): r["h"]
        for r in kmv_bottom_k(hashed, 64).collect()
    }
    naive = {}
    for grp in ("a", "b"):
        hs = sorted(
            r["h"] for r in hashed.filter(F.col("g") == grp).collect()
        )[:64]
        for i, h in enumerate(hs):
            naive[(grp, i + 1)] = h
    assert got == naive
    # unsaturated group b: theta = full space, estimate exact
    sk = kmv_sketch(df, "g", "key", 64)
    th = {r["g"]: r["theta"] for r in kmv_theta(sk, 64).collect()}
    assert th["b"] == KMV_SCALE
    ents = kmv_entries(sk, kmv_theta(sk, 64))
    n_b = ents.filter(F.col("g") == "b").count()
    assert n_b == 17  # all hashes retained -> est = 17 exactly
    # saturated group a: theta is the 64th smallest, 63 entries kept
    assert th["a"] == naive[("a", 64)]
    assert ents.filter(F.col("g") == "a").count() == 63


def test_kmv_estimator_accuracy_and_algebra(spark, sf_dir):
    """q_kmv_distinct vs ground truth on the fixture: saturated
    estimates land within the k=64 error band (±40 % is ~3σ), the
    unsaturated prio rows are EXACT, and the theta-algebra rows
    bracket sanely (intersection ≤ union; union ≤ |F|+|O| scale)."""
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.kmv import q_kmv_distinct

    orders = load_table(spark, sf_dir, "orders")
    got = {r["set_name"]: r for r in q_kmv_distinct(orders).collect()}
    truth = {
        r["o_orderstatus"]: r["d"]
        for r in orders.groupBy("o_orderstatus")
        .agg(F.countDistinct("o_custkey").alias("d"))
        .collect()
    }
    prio_truth = {
        r["o_orderstatus"]: r["d"]
        for r in orders.groupBy("o_orderstatus")
        .agg(F.countDistinct("o_orderpriority").alias("d"))
        .collect()
    }
    for st, true_d in truth.items():
        est = got[f"cust:{st}"]["est_distinct"]
        assert abs(est / true_d - 1) < 0.40, (st, est, true_d)
    for st, true_d in prio_truth.items():
        assert got[f"prio:{st}"]["est_distinct"] == true_d  # exact branch
    union = got["cust:F|O"]["est_distinct"]
    inter = got["cust:F&O"]["est_distinct"]
    true_union = (
        orders.filter(F.col("o_orderstatus").isin("F", "O"))
        .select("o_custkey")
        .distinct()
        .count()
    )
    assert inter <= union
    assert abs(union / true_union - 1) < 0.40, (union, true_union)
    # inclusion-exclusion consistency of the THETA estimates: the
    # intersection estimator uses the same clamped hash sets, so
    # est(F) + est(O) - est(F|O) tracks est(F&O) loosely
    assert inter > 0


def test_kmv_small_sets_algebra_exact(spark):
    """When both operand sketches are unsaturated, theta stays 2^48
    and the union / intersection estimates are EXACT set sizes."""
    from pyspark.sql import functions as F

    from node_js_etl_processor_spark.operators.kmv import (
        KMV_SCALE,
        kmv_entries,
        kmv_sketch,
        kmv_theta,
    )

    rows = [("F", f"u{i}") for i in range(20)] + [
        ("O", f"u{i}") for i in range(12, 40)
    ]
    df = spark.createDataFrame(rows, "g string, key string")
    sk = kmv_sketch(df, "g", "key", 64)
    th = kmv_theta(sk, 64)
    ent = kmv_entries(sk, th)
    ent_f = ent.filter(F.col("g") == "F").select("h")
    ent_o = ent.filter(F.col("g") == "O").select("h")
    assert {r["theta"] for r in th.collect()} == {KMV_SCALE}
    assert ent_f.union(ent_o).distinct().count() == 40  # |F ∪ O| exact
    assert ent_f.join(ent_o, "h").count() == 8  # |F ∩ O| = {12..19}


def test_kmv_estimates_empty_entry_group_yields_row(spark):
    """kmv_estimates must yield a row for EVERY
    sketched group, including one whose retained-entry set is empty —
    the degenerate k=1 saturated sketch retains nothing (the single
    hash IS theta, and entries are strictly below it), so the group
    must surface as n_entries=0 / est_distinct=0 instead of silently
    vanishing from the output."""
    from node_js_etl_processor_spark.operators.kmv import (
        KMV_SCALE,
        kmv_estimates,
        kmv_sketch,
    )

    rows = [("A", f"u{i}") for i in range(5)] + [("B", "solo")]
    df = spark.createDataFrame(rows, "g string, key string")
    # k=1: group A saturates (5 distinct keys → 1 retained rank, zero
    # entries below theta); group B holds 1 key and ALSO saturates.
    got = {r["g"]: r for r in kmv_estimates(kmv_sketch(df, "g", "key", 1), 1).collect()}
    assert set(got) == {"A", "B"}
    for g in ("A", "B"):
        assert got[g]["n_entries"] == 0
        assert got[g]["est_distinct"] == 0
        assert 0 < got[g]["theta"] < KMV_SCALE  # saturated: theta = the kept hash


def test_merge_intervals_islands_exact(spark):
    """merge_intervals on hand-built intervals: overlap merges,
    TOUCHING (s == running max e) merges, nesting collapses, gaps
    split; per-user islands are disjoint and n_events sums to the
    input row count."""
    from node_js_etl_processor_spark.operators.intervals import (
        merge_intervals,
    )

    rows = [
        # user 1: [0,10) ∪ [5,20) ∪ [20,30) touch-merge; [40,50) apart
        (1, 100, 0, 10),
        (1, 101, 5, 20),
        (1, 102, 20, 30),
        (1, 103, 40, 50),
        # user 2: nested [0,100) ⊃ [10,20) — one island, 2 events
        (2, 200, 0, 100),
        (2, 201, 10, 20),
        # user 3: equal (s, e) duplicates merge into one island
        (3, 300, 7, 9),
        (3, 301, 7, 9),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, s_us long, e_us long"
    )
    got = {
        (r["user_id"], r["island_start_us"]): (
            r["island_end_us"], r["n_events"], r["span_us"]
        )
        for r in merge_intervals(df).collect()
    }
    assert got == {
        (1, 0): (30, 3, 30),
        (1, 40): (50, 1, 10),
        (2, 0): (100, 2, 100),
        (3, 7): (9, 2, 2),
    }


def test_interval_coverage_invariants(spark, sf_dir):
    """q_interval_coverage on the fixture: per-user islands are
    pairwise disjoint and strictly ordered, every span is positive,
    and n_events sums to the event count."""
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.intervals import (
        q_interval_coverage,
    )

    events = load_table(spark, sf_dir, "events")
    rows = q_interval_coverage(events).collect()
    assert sum(r["n_events"] for r in rows) == events.count()
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(
            (r["island_start_us"], r["island_end_us"])
        )
        assert r["span_us"] == r["island_end_us"] - r["island_start_us"]
        assert r["span_us"] > 0
    for islands in by_user.values():
        islands.sort()
        for (s1, e1), (s2, e2) in zip(islands, islands[1:]):
            assert s2 > e1  # strictly disjoint — touching would merge


def test_skyline_matches_bruteforce(spark):
    """q_skyline == the quadratic dominance filter on deterministic
    pseudo-random parts, including duplicate (price, size) pairs and
    same-price ties."""
    from node_js_etl_processor_spark.operators.skyline import q_skyline

    rows = []
    x = 41
    for pk in range(300):
        x = (x * 1103515245 + 12345) % (1 << 31)
        price = 1.0 + (x % 9000) / 100.0
        size = 1 + (x >> 8) % 50
        rows.append((pk, "n", "b", "t", size, price))
    df = spark.createDataFrame(
        rows,
        "p_partkey long, p_name string, p_brand string, p_type string,"
        " p_size int, p_retailprice double",
    )
    got = {
        (r["price_cents"], r["p_size"]): (r["n_parts"], r["min_partkey"])
        for r in q_skyline(df).collect()
    }
    # brute force over distinct pairs
    pairs = {}
    for pk, _, _, _, size, price in rows:
        key = (round(price * 100), size)
        n, mn = pairs.get(key, (0, pk))
        pairs[key] = (n + 1, min(mn, pk))
    want = {
        p: v
        for p, v in pairs.items()
        if not any(
            q[0] <= p[0] and q[1] >= p[1] and q != p for q in pairs
        )
    }
    assert got == want
    assert len(got) >= 2  # non-degenerate frontier


def test_skyline_tie_and_duplicate_semantics(spark):
    """Same-price ties keep only the max size; duplicate pairs
    aggregate into one skyline row with their count; a universal
    dominator collapses the frontier to one row."""
    from node_js_etl_processor_spark.operators.skyline import q_skyline

    mk = lambda pk, size, price: (pk, "n", "b", "t", size, price)
    schema = (
        "p_partkey long, p_name string, p_brand string, p_type string,"
        " p_size int, p_retailprice double"
    )
    # two parts at the same pair (5.00, 10), one bigger same-price,
    # one strictly dominated
    df = spark.createDataFrame(
        [mk(1, 10, 5.0), mk(2, 10, 5.0), mk(3, 20, 5.0), mk(4, 5, 9.0)],
        schema,
    )
    got = {
        (r["price_cents"], r["p_size"]): (r["n_parts"], r["min_partkey"])
        for r in q_skyline(df).collect()
    }
    assert got == {(500, 20): (1, 3)}
    # dominator at (min price, max size) leaves exactly one row
    df2 = spark.createDataFrame(
        [mk(1, 50, 1.0), mk(2, 10, 2.0), mk(3, 50, 2.0)], schema
    )
    got2 = q_skyline(df2).collect()
    assert len(got2) == 1 and got2[0]["min_partkey"] == 1


# ---------------------------------------------------------------------------
# kmv difference, PMI collocations, last-touch attribution
# ---------------------------------------------------------------------------


def test_kmv_difference_duckdb_parity(spark, sf_dir):
    """Oracle parity: q_kmv_difference vs its staged oracle via
    the exact oracle compare — theta set-difference rows rebuilt
    bit-for-bit."""
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.kmv import (
        KMV_DIFFERENCE_ORACLE,
        q_kmv_difference,
    )

    orders = load_table(spark, sf_dir, "orders")
    n = _duck_parity(
        q_kmv_difference(orders), KMV_DIFFERENCE_ORACLE, sf_dir,
        tables=("orders",),
    )
    assert n == 2


def test_kmv_difference_sanity(spark, sf_dir):
    """Difference estimates are non-negative, bounded by the operand
    estimate, and the two directions plus the intersection roughly
    reassemble the union (same clamped hash space ⇒ the identity
    n(F-O) + n(O-F) + n(F&O) = n(F|O) holds EXACTLY on counts)."""
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.kmv import (
        q_kmv_difference,
        q_kmv_distinct,
    )

    orders = load_table(spark, sf_dir, "orders")
    diff = {r["set_name"]: r for r in q_kmv_difference(orders).collect()}
    dist = {r["set_name"]: r for r in q_kmv_distinct(orders).collect()}
    assert set(diff) == {"cust:F-O", "cust:O-F"}
    # identical clamped space: counts are additive exactly
    assert (
        diff["cust:F-O"]["n_entries"]
        + diff["cust:O-F"]["n_entries"]
        + dist["cust:F&O"]["n_entries"]
        == dist["cust:F|O"]["n_entries"]
    )
    assert diff["cust:F-O"]["theta"] == dist["cust:F|O"]["theta"]
    for r in diff.values():
        assert 0 <= r["n_entries"] <= 64
        assert r["est_distinct"] >= 0


def test_pmi_collocations_duckdb_parity_and_semantics(spark, sf_dir):
    """Oracle parity: q_pmi_collocations vs its staged oracle;
    plus the exact-integer gate semantics on a hand corpus — a bigram
    at independence (lift == 1) is EXCLUDED (strict >), a repeated
    collocation passes, and min_count prunes."""
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.colloc import (
        PMI_COLLOCATIONS_ORACLE,
        q_pmi_collocations,
    )

    docs = load_table(spark, sf_dir, "documents")
    n = _duck_parity(q_pmi_collocations(docs), PMI_COLLOCATIONS_ORACLE, sf_dir)
    assert n > 0  # the fixture corpus has real collocations
    # hand corpus: "aa bb" always together (strong collocation);
    # build a doc set where "cc dd" sits exactly at independence
    rows = [(i, "aa bb", "s", "en") for i in range(30)]
    hand = spark.createDataFrame(
        rows, "doc_id long, text string, source string, lang string"
    )
    got = q_pmi_collocations(hand, min_count=20).collect()
    # N = 60, M = 30, n_xy = 30, n_x = n_y = 30:
    # lift = 30·60² / (30·30·30) = 4 > 1 → kept
    assert [(r["w1"], r["w2"], r["n_xy"]) for r in got] == [("aa", "bb", 30)]
    # at exact independence the strict gate drops the bigram:
    # one doc "x x x ... x" gives lift = n_xy·N²/(M·n_x·n_y) with
    # n_xy = M and n_x = n_y = N → lift = N²·M/(M·N²) = 1 exactly
    hand2 = spark.createDataFrame(
        [(1, " ".join(["x"] * 25), "s", "en")],
        "doc_id long, text string, source string, lang string",
    )
    assert q_pmi_collocations(hand2, min_count=20).count() == 0


def test_attribution_duckdb_parity_and_semantics(spark, sf_dir):
    """Oracle parity: q_attribution vs its staged oracle; plus
    hand-stream semantics — credit goes to the most recent touch,
    purchases and errors never receive credit, the 7-day lookback
    nulls stale touches, and n_touches_7d counts the range frame."""
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.attribution import (
        ATTRIBUTION_ORACLE,
        LOOKBACK_US,
        q_attribution,
    )

    events = load_table(spark, sf_dir, "events")
    n = _duck_parity(
        q_attribution(events), ATTRIBUTION_ORACLE, sf_dir, tables=("events",)
    )
    assert n > 0
    # hand stream (timestamps in seconds for readability)
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    sec = lambda s: t0 + dt.timedelta(seconds=s)
    day = 86400
    rows = [
        # user 1: click then view then purchase → credit to the VIEW
        (1, 10, sec(0), "click", 1.0, "{}"),
        (2, 10, sec(5), "view", 1.0, "{}"),
        (3, 10, sec(9), "purchase", 1.0, "{}"),
        # user 1: second purchase right after — still credits the view
        # (purchases are not touches), n_touches unchanged
        (4, 10, sec(10), "purchase", 1.0, "{}"),
        # user 2: touch 8 days before purchase → OUT of lookback
        (5, 20, sec(0), "click", 1.0, "{}"),
        (6, 20, sec(8 * day), "purchase", 1.0, "{}"),
        # user 3: error events never get credit
        (7, 30, sec(0), "error", 1.0, "{}"),
        (8, 30, sec(1), "purchase", 1.0, "{}"),
        # user 4: a touch at the SAME timestamp as the purchase is a
        # RANGE peer — excluded from both credit and count; the
        # strictly earlier click gets the credit (equal-ts
        # consistency)
        (9, 40, sec(0), "click", 1.0, "{}"),
        (10, 40, sec(5), "click", 1.0, "{}"),
        (11, 40, sec(5), "purchase", 1.0, "{}"),
    ]
    hand = spark.createDataFrame(
        rows,
        "event_id long, user_id long, ts timestamp, event_type string,"
        " value double, props string",
    )
    got = {r["purchase_event_id"]: r for r in q_attribution(hand).collect()}
    assert set(got) == {3, 4, 6, 8, 11}
    assert got[3]["touch_event_id"] == 2 and got[3]["touch_type"] == "view"
    assert got[3]["gap_us"] == 4_000_000 and got[3]["n_touches_7d"] == 2
    assert got[4]["touch_event_id"] == 2 and got[4]["n_touches_7d"] == 2
    assert got[6]["touch_event_id"] is None and got[6]["gap_us"] is None
    assert got[6]["n_touches_7d"] == 0  # 8 days out of the range frame
    assert got[8]["touch_event_id"] is None and got[8]["n_touches_7d"] == 0
    assert got[11]["touch_event_id"] == 9 and got[11]["gap_us"] == 5_000_000
    assert got[11]["n_touches_7d"] == 1  # the equal-ts click is a peer
    assert all(
        r["gap_us"] is None or 0 < r["gap_us"] <= LOOKBACK_US
        for r in got.values()
    )


def test_itemset_pairs_duckdb_parity_and_semantics(spark, sf_dir):
    """Oracle parity: q_itemset_pairs vs its staged oracle; plus
    hand-basket semantics — unordered pairs from distinct part sets,
    support threshold, exact per-part and total counts."""
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.basket import (
        ITEMSET_PAIRS_ORACLE,
        q_itemset_pairs,
    )

    li = load_table(spark, sf_dir, "lineitem")
    n = _duck_parity(
        q_itemset_pairs(li), ITEMSET_PAIRS_ORACLE, sf_dir,
        tables=("lineitem",),
    )
    assert n > 0  # the fixture has real co-ordered pairs
    # hand baskets: orders {1: (10,20,30)}, {2: (10,20)}, {3: (10,20)},
    # {4: (30, 30 dup, 40)} — duplicates collapse, (10,20) support 3,
    # (10,30)/(20,30) support 1 (pruned), (30,40) support 1 (pruned)
    rows = [
        (1, 10), (1, 20), (1, 30),
        (2, 10), (2, 20),
        (3, 20), (3, 10),
        (4, 30), (4, 30), (4, 40),
    ]
    hand = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    got = [tuple(r) for r in q_itemset_pairs(hand, min_support=2).collect()]
    assert got == [(10, 20, 3, 3, 3, 4)]
    # support 1 keeps everything: 4 distinct pairs
    all_pairs = q_itemset_pairs(hand, min_support=1).collect()
    assert {(r["part_a"], r["part_b"]) for r in all_pairs} == {
        (10, 20), (10, 30), (20, 30), (30, 40)
    }
    assert all(r["n_baskets"] == 4 for r in all_pairs)


def test_snm_pairs_duckdb_parity_and_semantics(spark, sf_dir):
    """Oracle parity: q_snm_pairs vs its staged oracle (the
    distributed rank+offset rewrite vs a global ROW_NUMBER); plus
    global_rank correctness and hand semantics — window-local pairs
    only, each emitted once, Levenshtein-gated."""
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.snm import (
        SNM_PAIRS_ORACLE,
        global_rank,
        q_snm_pairs,
    )

    cust = load_table(spark, sf_dir, "customer")
    n = _duck_parity(
        q_snm_pairs(cust), SNM_PAIRS_ORACLE, sf_dir, tables=("customer",)
    )
    assert n > 0
    # global_rank == the single-window rank, boundary-independent
    ranked = {
        (r["c_custkey"]): r["rn"]
        for r in global_rank(
            cust.select("c_custkey", F.lower(F.trim("c_name")).alias("k")),
            ["k", "c_custkey"],
        ).collect()
    }
    want = {
        r["c_custkey"]: i + 1
        for i, r in enumerate(
            cust.select("c_custkey", F.lower(F.trim("c_name")).alias("k"))
            .orderBy("k", "c_custkey")
            .collect()
        )
    }
    assert ranked == want
    # hand corpus: "anna", "anne", "annex", "bob", "zed" (w=5 covers
    # all pairs here; dist gate keeps only the close ones)
    rows = [(1, "anna"), (2, "anne"), (3, "annex"), (4, "bob"), (5, "zed")]
    hand = spark.createDataFrame(rows, "c_custkey long, c_name string")
    got = {
        (r["custkey_a"], r["custkey_b"]): r["dist"]
        for r in q_snm_pairs(hand).collect()
    }
    assert got == {(1, 2): 1, (1, 3): 2, (2, 3): 1}
    # window=1 restricts to adjacent-only: (anna,anne), (anne,annex)
    got_w1 = {
        (r["custkey_a"], r["custkey_b"])
        for r in q_snm_pairs(hand, window=1).collect()
    }
    assert got_w1 == {(1, 2), (2, 3)}


def test_span_extents_duckdb_parity(spark, sf_dir):
    """Oracle parity: q_span_extents vs its DuckDB twin — the
    shingle hashes, corpus-wide duplication gate and sweep-line merge
    rebuilt over identical integer positions, every column BIGINT."""
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.spans import (
        SPAN_EXTENTS_ORACLE,
        q_span_extents,
    )

    docs = load_table(spark, sf_dir, "documents")
    n = _duck_parity(q_span_extents(docs), SPAN_EXTENTS_ORACLE, sf_dir)
    assert n > 0


def test_span_extents_hand_semantics(spark):
    """Extent correctness on a hand corpus at w=4: (1) a shared run
    longer than w yields ONE merged extent covering the whole run in
    both docs; (2) WITHIN-doc repetition of a shingle duplicates both
    occurrences (self-repetition counts, as in Lee et al.); (3) a doc
    with no duplicated shingle emits nothing; (4) touching spans
    merge (no zero-gap split); (5) docs shorter than w emit nothing."""
    from node_js_etl_processor_spark.operators.spans import span_extents

    shared = "one two three four five six"       # 6-token shared run
    rows = [
        (1, shared + " uniq1a uniq1b uniq1c"),
        (2, "pre2a pre2b " + shared),
        # doc 3: 'rep ra rb rc' twice with a unique separator — the
        # 4-token shingle (rep ra rb rc) occurs twice WITHIN the doc
        (3, "rep ra rb rc sepX rep ra rb rc"),
        (4, "all unique tokens here nothing shared at all"),
        (5, "too short"),                          # < w tokens
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_id"], r["start_tok"]): (
            r["end_tok"], r["n_shingles"], r["span_len"]
        )
        for r in span_extents(docs, 4).collect()
    }
    # doc 1: duplicated shingle positions 1..3 (the three 4-shingles
    # inside the shared 6-token run) -> one extent [1, 7)
    # doc 2: same run at offset 2 -> positions 3..5 -> extent [3, 9)
    # doc 3: (rep ra rb rc) at positions 1 and 6 -> spans [1,5) and
    # [6,10): 6 > 5 opens a new island -> TWO extents
    assert got == {
        (1, 1): (7, 3, 6),
        (2, 3): (9, 3, 6),
        (3, 1): (5, 1, 4),
        (3, 6): (10, 1, 4),
    }
    # touching spans merge: positions 1 and 5 with w=4 -> [1,5) and
    # [5,9) share the boundary token index 5 exclusive/inclusive —
    # the intervals convention merges them into [1, 9)
    t_rows = [
        (10, "a b c d e f g h padX"),
        (11, "a b c d sep e f g h"),
    ]
    # doc 10: shingles (a b c d) at 1 and (e f g h) at 5 both occur
    # in doc 11 (positions 1 and 6) -> doc 10 extents [1,5) vs [5,9)
    # touch and MERGE into [1, 9)
    t_docs = spark.createDataFrame(t_rows, "doc_id long, text string")
    t_got = {
        (r["doc_id"], r["start_tok"]): (r["end_tok"], r["n_shingles"])
        for r in span_extents(t_docs, 4).collect()
    }
    assert t_got[(10, 1)] == (9, 2)      # merged touching extent
    assert t_got[(11, 1)] == (5, 1) and t_got[(11, 6)] == (10, 1)


def test_span_extents_short_doc_and_width_guard(spark):
    """w < 1 raises; an all-short corpus yields an EMPTY frame (the
    F.sequence auto-decrement: sequence(1, 0) must never reach
    slice())."""
    import pytest as _pytest

    from node_js_etl_processor_spark.operators.spans import (
        shingle_positions,
        span_extents,
    )

    docs = spark.createDataFrame(
        [(1, "just three tokens"), (2, "two tokens")],
        "doc_id long, text string",
    )
    assert span_extents(docs, 25).count() == 0
    with _pytest.raises(ValueError, match="w >= 1"):
        shingle_positions(docs, 0)


def test_snm_boundary_independence_on_declared_fixture(spark, sf_dir):
    """The boundary-independence property,
    promoted from hand rows to the DECLARED fixture — q_snm_pairs
    over the customer table must be invariant to the INPUT partition
    layout (1, 5 and 32 partitions), because the distributed global
    rank (range-repartition + local row_number + broadcast offsets)
    owns the total order; a rank that leaked partition boundaries
    would drop or duplicate window-local pairs near every cut."""
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.snm import q_snm_pairs

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name"
    )
    results = []
    for n_parts in (1, 5, 32):
        got = {
            (r["custkey_a"], r["custkey_b"], r["dist"])
            for r in q_snm_pairs(cust.repartition(n_parts)).collect()
        }
        results.append(got)
    assert results[0] == results[1] == results[2]
    assert len(results[0]) > 0


def test_snm_ascii_domain_and_window_guard(spark):
    """Non-ASCII keys are excluded
    from BOTH engines with the same char-length == byte-length
    predicate (Spark and DuckDB disagree on edit-distance UNITS for
    multi-byte text — code points vs bytes), and window < 1 raises
    instead of emitting self-pairs via F.sequence auto-decrement."""
    import duckdb
    import pytest as _pytest

    from node_js_etl_processor_spark.operators.snm import q_snm_pairs

    rows = [(1, "anna"), (2, "anne"), (3, "café"), (4, "cafe")]
    hand = spark.createDataFrame(rows, "c_custkey long, c_name string")
    got = {
        (r["custkey_a"], r["custkey_b"]) for r in q_snm_pairs(hand).collect()
    }
    # café is excluded (non-ASCII); cafe pairs with nothing within 2
    # of the remaining keys except... anna/anne at dist 1; cafe-anna
    # dist 4, cafe-anne dist 4 — so exactly the anna/anne pair
    assert got == {(1, 2)}
    # the engines genuinely disagree on units for the excluded row —
    # the reason the domain restriction exists
    duck_d = duckdb.sql("SELECT levenshtein('café', 'cafe')").fetchone()[0]
    spark_d = (
        spark.sql("SELECT levenshtein('café', 'cafe') AS d").first()["d"]
    )
    assert spark_d == 1 and duck_d == 2
    with _pytest.raises(ValueError, match="window >= 1"):
        q_snm_pairs(hand, window=0)


def test_snm_transliterate_fold_identity_and_parity(spark, sf_dir):
    """Hardening: the opt-in NFKD
    transliteration pre-pass. (1) identity on the declared ASCII
    corpus — transliterate=True output equals the default path's, so
    opting in cannot change declared semantics on an ASCII feed;
    (2) on an accented hand corpus the fold admits José/Müller rows
    the gate previously refused and pairs them with their ASCII
    twins; a key still non-ASCII after the fold (ß has no NFKD
    decomposition) stays refused; (3) hand-scale DuckDB parity with
    the SAME interpolated fold table (snm_pairs_oracle(True)) — the
    fold is cross-checked, not re-derived per engine."""
    import duckdb

    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.snm import (
        q_snm_pairs,
        snm_pairs_oracle,
    )

    cust = load_table(spark, sf_dir, "customer")
    base = {tuple(r) for r in q_snm_pairs(cust).collect()}
    folded = {
        tuple(r) for r in q_snm_pairs(cust, transliterate=True).collect()
    }
    assert folded == base and len(base) > 0

    rows = [
        (1, "jose garcia"),
        (2, "José García"),
        (3, "muller"),
        (4, "Müller"),
        (5, "straße"),
    ]
    hand = spark.createDataFrame(rows, "c_custkey long, c_name string")
    got = {
        (r["custkey_a"], r["custkey_b"], r["dist"])
        for r in q_snm_pairs(hand, transliterate=True).collect()
    }
    assert got == {(1, 2, 0), (3, 4, 0)}
    # the default path refuses every accented row (and ß stays
    # refused on BOTH paths)
    got_default = {
        (r["custkey_a"], r["custkey_b"])
        for r in q_snm_pairs(hand).collect()
    }
    assert got_default == set()
    con = duckdb.connect()
    con.register("customer", hand.toPandas())
    drows = {tuple(r) for r in con.execute(snm_pairs_oracle(True)).fetchall()}
    assert drows == got


def test_triangles_duckdb_parity_and_semantics(spark, sf_dir):
    """Oracle parity: q_triangles (degree-oriented triangle
    counting over the co-purchase graph) vs the deliberately
    UNORIENTED brute-force 3-way-join oracle; plus hand graphs — one
    triangle counted once at every corner, a star has none (the hub
    never pivots), two triangles sharing an edge count 2 on the
    shared endpoints."""
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.triangles import (
        TRIANGLES_ORACLE,
        q_triangles,
        triangle_counts,
    )

    li = load_table(spark, sf_dir, "lineitem")
    n = _duck_parity(
        q_triangles(li), TRIANGLES_ORACLE, sf_dir, tables=("lineitem",)
    )
    assert n > 0

    def counts(edge_rows):
        df = spark.createDataFrame(edge_rows, "a long, b long")
        return {
            r["part"]: r["n_triangles"]
            for r in triangle_counts(df).collect()
        }

    # one triangle + a pendant: 4 participates in none
    assert counts([(1, 2), (2, 3), (1, 3), (3, 4)]) == {1: 1, 2: 1, 3: 1}
    # star around a hub: zero triangles -> empty output
    assert counts([(1, 2), (1, 3), (1, 4), (1, 5)]) == {}
    # two triangles sharing edge (2,3): shared endpoints count 2
    assert counts([(1, 2), (2, 3), (1, 3), (2, 4), (3, 4)]) == {
        1: 1, 2: 2, 3: 2, 4: 1
    }


def test_event_sequences_duckdb_parity_and_semantics(spark, sf_dir):
    """Oracle parity: q_event_sequences vs its DuckDB twin; plus
    hand sequences — contiguous trigrams only, (t_us, event_id) total
    order ties broken by event_id, n_users counts DISTINCT users."""
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.seqmine import (
        EVENT_SEQUENCES_ORACLE,
        q_event_sequences,
    )

    ev = load_table(spark, sf_dir, "events")
    n = _duck_parity(
        q_event_sequences(ev), EVENT_SEQUENCES_ORACLE, sf_dir,
        tables=("events",),
    )
    assert n > 0
    # hand corpus: user 1 walks a,b,c,b,c (ts ties on the last two
    # broken by event_id); user 2 walks a,b,c — trigram (a,b,c) has
    # n_occ=2 across TWO users, (b,c,b)/(c,b,c) one user each
    rows = [
        (1, 100, "a", "2024-01-01 00:00:01"),
        (1, 101, "b", "2024-01-01 00:00:02"),
        (1, 102, "c", "2024-01-01 00:00:03"),
        (1, 103, "b", "2024-01-01 00:00:04"),
        (1, 104, "c", "2024-01-01 00:00:04"),  # tie -> event_id order
        (2, 200, "a", "2024-01-01 00:00:01"),
        (2, 201, "b", "2024-01-01 00:00:02"),
        (2, 202, "c", "2024-01-01 00:00:03"),
    ]
    from pyspark.sql import functions as _F

    hand = spark.createDataFrame(
        rows, "user_id long, event_id long, event_type string, ts string"
    ).withColumn("ts", _F.to_timestamp("ts"))
    got = {
        (r["e1"], r["e2"], r["e3"]): (r["n_occ"], r["n_users"])
        for r in q_event_sequences(hand, min_support=1).collect()
    }
    assert got == {
        ("a", "b", "c"): (2, 2),
        ("b", "c", "b"): (1, 1),
        ("c", "b", "c"): (1, 1),
    }


def test_rfm_segments_duckdb_parity_and_semantics(spark, sf_dir):
    """Oracle parity: q_rfm_segments vs the single-machine
    ROW_NUMBER oracle (the distributed global rank is what's
    checked); plus hand orders — quintiles run 0..4 ascending in
    each metric with custkey tiebreak, metrics are exact integers."""
    import datetime

    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.rfm import q_rfm_segments

    from node_js_etl_processor_spark.operators.rfm import (
        RFM_SEGMENTS_ORACLE,
    )

    orders = load_table(spark, sf_dir, "orders")
    n = _duck_parity(
        q_rfm_segments(orders), RFM_SEGMENTS_ORACLE, sf_dir,
        tables=("orders",),
    )
    assert n > 0
    # five customers, one order each, strictly increasing date and
    # price -> every segment column is exactly 0..4 in custkey order
    rows = [
        (k, k, "O", datetime.date(2024, 1, k), 10.0 * k)
        for k in range(1, 6)
    ]
    hand = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_orderdate date, o_totalprice double",
    )
    got = {
        r["custkey"]: (
            r["r_seg"], r["f_seg"], r["m_seg"],
            r["n_orders"], r["monetary_cents"],
        )
        for r in q_rfm_segments(hand).collect()
    }
    # r_seg/m_seg follow the strictly increasing metrics; f_seg is an
    # all-ties column, so the (metric, custkey) total order falls
    # back to custkey and ALSO yields k-1 — the deterministic
    # tiebreak, not an arbitrary engine order
    assert got == {
        k: (k - 1, k - 1, k - 1, 1, 1000 * k) for k in range(1, 6)
    }


def test_doc_novelty_duckdb_parity_and_semantics(spark, sf_dir):
    """Oracle parity: q_doc_novelty vs its DuckDB twin (the full
    shingle → duplication → sweep-merge → coverage composition); plus
    hand semantics at w=4 — a doc fully covered by a shared run
    reports full extent coverage, a clean doc reports zeros (and IS
    reported), overlapping duplicated runs count merged tokens once,
    and n_tokens = n_shingles + w − 1."""
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.novelty import (
        DOC_NOVELTY_ORACLE,
        q_doc_novelty,
    )

    docs = load_table(spark, sf_dir, "documents")
    n = _duck_parity(q_doc_novelty(docs), DOC_NOVELTY_ORACLE, sf_dir)
    assert n > 0

    shared = "one two three four five six"  # 6 tokens, shared run
    rows = [
        (1, shared),                          # fully duplicated
        (2, "pre2a pre2b " + shared),         # suffix duplicated
        (3, "all unique tokens right here"),  # clean, still reported
        (4, "x"),                             # < w: no shingles, absent
    ]
    docs_h = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (
            r["n_tokens"], r["n_shingles"],
            r["n_dup_shingles"], r["dup_extent_tokens"],
        )
        for r in q_doc_novelty(docs_h, w=4).collect()
    }
    # doc 1: 6 tokens, 3 shingles, all duplicated (doc 2 carries the
    # same run) -> one extent [1,7): coverage 6 = the whole doc
    # doc 2: 8 tokens, 5 shingles, 3 duplicated -> extent [3,9): 6
    # doc 3: clean -> zeros; doc 4: absent (no shingles)
    assert got == {
        1: (6, 3, 3, 6),
        2: (8, 5, 3, 6),
        3: (5, 2, 0, 0),
    }
    # duplicate doc_id (re-ingested corpus): ONE row per doc_id with
    # the copies' shingle counts SUMMED — cross-checked against the
    # oracle on the same in-memory frame (a single-hash totals form
    # can emit one row per copy)
    import duckdb
    import pandas as pd

    dup_rows = [(1, shared), (1, shared), (3, "all unique tokens right here")]
    docs_d = spark.createDataFrame(dup_rows, "doc_id long, text string")
    got_d = sorted(tuple(r) for r in q_doc_novelty(docs_d, w=4).collect())
    from node_js_etl_processor_spark.operators.novelty import (
        doc_novelty_oracle,
    )

    con = duckdb.connect()
    con.register(
        "documents", pd.DataFrame(dup_rows, columns=["doc_id", "text"])
    )
    want_d = sorted(
        tuple(r) for r in con.execute(doc_novelty_oracle(4)).fetchall()
    )
    assert got_d == want_d
    assert [r for r in got_d if r[0] == 1][0][2] == 6  # summed copies


def test_robust_stats_duckdb_parity_and_semantics(spark, sf_dir):
    """Oracle parity: q_robust_stats vs its DuckDB twin (no
    quantile functions anywhere — doubled order statistics on both
    sides); plus hand groups — odd n (middle counted twice), even n
    (middle two summed), and the MAD against a by-hand computation."""
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.robust import (
        ROBUST_STATS_ORACLE,
        q_robust_stats,
    )

    orders = load_table(spark, sf_dir, "orders")
    n = _duck_parity(
        q_robust_stats(orders), ROBUST_STATS_ORACLE, sf_dir,
        tables=("orders",),
    )
    assert n > 0
    # group A (odd, prices 1,2,10): median 2 -> med2 = 4;
    #   |x - 2| = 1,0,8 -> MAD = 1 -> d = 2|x-2| = 2,0,16, doubled
    #   median of d = 4 = 4*MAD
    # group B (even, prices 1,2,3,10): median 2.5 -> med2 = 5;
    #   |x - 2.5| = 1.5,.5,.5,7.5 -> MAD = 1 -> d = |2x-5| = 3,1,1,15
    #   sorted 1,1,3,15 -> doubled median = 1+3 = 4 = 4*MAD
    import datetime

    rows = []
    for i, p in enumerate([1.0, 2.0, 10.0]):
        rows.append((100 + i, 1, "A", datetime.date(2024, 1, 1), p))
    for i, p in enumerate([1.0, 2.0, 3.0, 10.0]):
        rows.append((200 + i, 2, "B", datetime.date(2024, 1, 1), p))
    # NULL prices must be dropped BEFORE ranking on BOTH engines (the
    # NULLS FIRST vs NULLS LAST order-statistic divergence the guard
    # exists for): with this row counted, group A's median would move
    rows.append((300, 3, "A", datetime.date(2024, 1, 1), None))
    hand = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderpriority string,"
        " o_orderdate date, o_totalprice double",
    )
    got = {
        r["o_orderpriority"]: (r["n"], r["med2_cents"], r["mad4_cents"])
        for r in q_robust_stats(hand).collect()
    }
    assert got == {"A": (3, 400, 400), "B": (4, 500, 400)}
    # ...and the ORACLE drops the NULL too (a guard pinned only Spark-side
    # would let the oracle's WHERE rot): run ROBUST_STATS_ORACLE on the same
    # in-memory frame
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    con.register(
        "orders",
        pd.DataFrame(
            rows,
            columns=[
                "o_orderkey", "o_custkey", "o_orderpriority",
                "o_orderdate", "o_totalprice",
            ],
        ),
    )
    want_d = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(ROBUST_STATS_ORACLE).fetchall()
    }
    assert want_d == got


def test_itemset_pairs_mega_basket_cap(spark):
    """The max_basket cap drops pathological baskets whole (their
    |B|^2 pair explosion never happens) while every statistic stays
    internally consistent over the surviving baskets; default None
    remains exact."""
    from node_js_etl_processor_spark.operators.basket import q_itemset_pairs

    rows = [(1, p) for p in range(200)] + [  # mega-basket: 200 parts
        (2, 10), (2, 11),
        (3, 10), (3, 11),
    ]
    hand = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    capped = q_itemset_pairs(hand, min_support=2, max_basket=50)
    got = [tuple(r) for r in capped.collect()]
    # only baskets 2 and 3 survive: (10,11) support 2, n_a=n_b=2,
    # n_baskets=2 (the mega-basket is excluded from the total too)
    assert got == [(10, 11, 2, 2, 2, 2)]
    # default: exact — the mega-basket contributes to counts
    exact = {
        (r["part_a"], r["part_b"]): (r["n_both"], r["n_baskets"])
        for r in q_itemset_pairs(hand, min_support=2).collect()
    }
    assert exact[(10, 11)] == (3, 3)


def test_sax_symbols_duckdb_parity_and_semantics(spark, sf_dir):
    """Oracle parity: q_sax_symbols vs its DuckDB twin (hourly
    PAA + rank-quantized alphabet); plus hand series — multi-event
    frames average into one PAA mean, symbols follow the rank order,
    the word follows TIME order, and mean ties break by frame."""
    import datetime

    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.sax import (
        SAX_SYMBOLS_ORACLE,
        q_sax_symbols,
    )

    events = load_table(spark, sf_dir, "events")
    n = _duck_parity(
        q_sax_symbols(events), SAX_SYMBOLS_ORACLE, sf_dir,
        tables=("events",),
    )
    assert n > 0
    # user 1 frames: h0 mean (10+20)/2=15, h1 5, h2 40, h3 25
    #   rank asc -> 5:a, 15:b, 25:c, 40:d; time order -> "badc"
    # user 2: equal means (10, 10) -> frame tiebreak: h0 'a', h1 'b'
    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)

    def at(h, m=0):
        return t0 + datetime.timedelta(hours=h, minutes=m)

    rows = [
        (1, at(0, 5), 1, 10.0), (2, at(0, 40), 1, 20.0),
        (3, at(1), 1, 5.0), (4, at(2), 1, 40.0), (5, at(3), 1, 25.0),
        (6, at(0), 2, 10.0), (7, at(1), 2, 10.0),
    ]
    hand = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, value double"
    )
    got = {
        r["user_id"]: (r["n_frames"], r["sax_word"])
        for r in q_sax_symbols(hand).collect()
    }
    assert got == {1: (4, "badc"), 2: (2, "ab")}


def test_cusum_alarms_duckdb_parity_and_semantics(spark, sf_dir):
    """Oracle parity: q_cusum_alarms vs its DuckDB twin (the
    prefix-sum / running-min identity); plus hand streams checked
    against the literal max(0, S+d) recursion — including a
    below-zero reset, the identity's load-bearing case."""
    import datetime

    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.cusum import (
        CUSUM_ALARMS_ORACLE,
        q_cusum_alarms,
    )

    events = load_table(spark, sf_dir, "events")
    n = _duck_parity(
        q_cusum_alarms(events), CUSUM_ALARMS_ORACLE, sf_dir,
        tables=("events",),
    )
    assert n > 0
    # user 1, K=1.00, H=3.00: x = 2,2,2,0,5,1 dollars
    #   S = 100,200,300,200,600,600 -> alarms at events 5 and 6
    # user 2: x = 0,5 -> S = max(0,-100)=0 then 400 -> alarm (reset
    #   path: without the least(0, min P) clamp S2 would be 300)
    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)

    def at(h):
        return t0 + datetime.timedelta(hours=h)

    rows = [(i + 1, at(i), 1, x) for i, x in enumerate([2.0, 2.0, 2.0, 0.0, 5.0, 1.0])]
    rows += [(10, at(0), 2, 0.0), (11, at(1), 2, 5.0)]
    hand = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, value double"
    )
    got = {
        r["event_id"]: (r["user_id"], r["x_cents"], r["s_cents"])
        for r in q_cusum_alarms(hand, k_cents=100, h_cents=300).collect()
    }
    assert got == {
        5: (1, 500, 600), 6: (1, 100, 600), 11: (2, 500, 400),
    }


def test_ols_trend_duckdb_parity_and_semantics(spark, sf_dir):
    """Oracle parity: q_ols_trend vs its DuckDB twin (integer
    sufficient statistics + one fixed-shape double slope); plus a
    hand-perfect line (slope exactly 100 cents/day) and a degenerate
    single-day group (zero denominator -> NULL slope)."""
    import datetime

    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.trend import (
        OLS_TREND_ORACLE,
        q_ols_trend,
    )

    orders = load_table(spark, sf_dir, "orders")
    n = _duck_parity(
        q_ols_trend(orders), OLS_TREND_ORACLE, sf_dir, tables=("orders",)
    )
    assert n > 0
    d0 = datetime.date(1998, 7, 1)  # X_EPOCH -> x = 0, 1, 2
    rows = [
        (1, "A", d0, 1.0),
        (2, "A", d0 + datetime.timedelta(days=1), 2.0),
        (3, "A", d0 + datetime.timedelta(days=2), 3.0),
        (4, "B", d0, 7.0),
        (5, "B", d0, 9.0),
    ]
    hand = spark.createDataFrame(
        rows,
        "o_orderkey long, o_orderpriority string, o_orderdate date,"
        " o_totalprice double",
    )
    got = {
        r["o_orderpriority"]: (
            r["n"], r["sx"], r["sy"], r["sxx"], r["sxy"],
            r["slope_cents_per_day"],
        )
        for r in q_ols_trend(hand).collect()
    }
    assert got["A"] == (3, 3, 600, 5, 800, 100.0)
    assert got["B"] == (2, 0, 1600, 0, 0, None)


def test_simpson_diversity_duckdb_parity_and_semantics(spark, sf_dir):
    """Oracle parity: q_simpson_diversity vs its DuckDB twin;
    plus hand sources — repeat counts feed Simpson's numerator,
    hapax counting, and Yule's K as the exact rational 10^4·(Σc²−n)/n²
    (an all-hapax source has K = 0)."""
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.diversity import (
        SIMPSON_DIVERSITY_ORACLE,
        q_simpson_diversity,
    )

    docs = load_table(spark, sf_dir, "documents")
    n = _duck_parity(
        q_simpson_diversity(docs), SIMPSON_DIVERSITY_ORACLE, sf_dir,
        tables=("documents",),
    )
    assert n > 0
    # A: "a a b" -> c = {a:2, b:1}: n=3, types=2, simpson=2, hapax=1,
    #    K = 10^4 * (5 - 3) / 9 = 20000/9; B: all hapax -> K = 0
    hand = spark.createDataFrame(
        [(1, "a A b", "A"), (2, "   ", "A"), (3, "x", "B")],
        "doc_id long, text string, source string",
    )
    got = {
        r["source"]: (
            r["n_tokens"], r["n_types"], r["simpson_num"], r["n_hapax"],
            r["yule_k"],
        )
        for r in q_simpson_diversity(hand).collect()
    }
    assert got["A"][:4] == (3, 2, 2, 1)
    assert abs(got["A"][4] - 20000.0 / 9.0) < 1e-9
    assert got["B"] == (1, 1, 0, 1, 0.0)


def test_bfs_hops_duckdb_parity_and_semantics(spark, sf_dir):
    """Oracle parity: q_bfs_hops vs its DuckDB twin (unrolled
    BFS layers over the link-graph edge construction); plus a hand
    graph traced by the doc_id arithmetic — seeds at dist 0, a
    visited vertex never reappears at a larger dist, and path counts
    merge additively through the BFS DAG."""
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.paths import (
        BFS_HOPS_ORACLE,
        q_bfs_hops,
    )

    docs = load_table(spark, sf_dir, "documents")
    n = _duck_parity(
        q_bfs_hops(docs), BFS_HOPS_ORACLE, sf_dir, tables=("documents",)
    )
    assert n > 0
    # doc 7: d7 -> d1, d9, d17; doc 1: d1 -> d3, d7, d11 (d7 visited)
    hand = spark.createDataFrame(
        [(7, "t"), (1, "t")], "doc_id long, text string"
    )
    got = {
        r["domain"]: (r["dist"], r["n_paths"])
        for r in q_bfs_hops(hand).collect()
    }
    assert got == {
        "d0.example": (0, 1), "d7.example": (0, 1),
        "d1.example": (1, 1), "d9.example": (1, 1), "d17.example": (1, 1),
        "d3.example": (2, 1), "d11.example": (2, 1),
    }


def test_bfs_early_exit_on_dead_frontier_matches_lazy_form(spark, lazy_barriers):
    """When the frontier dies before k_hops, the BFS stops unrolling —
    with the per-hop cut in place or left out, the output must equal
    the hand-computed reachable set. Chain graph a->b with seeds
    elsewhere dead immediately; seed d0 reaches only its own edges."""
    from node_js_etl_processor_spark.operators.paths import bfs_hops_over_edges

    # d0.example -> x.example and nothing else: frontier empties at hop 2
    edges = spark.createDataFrame(
        [("d0.example", "x.example")], "src string, dst string"
    )
    eager = {
        (r["domain"], r["dist"], r["n_paths"])
        for r in bfs_hops_over_edges(edges, 3).collect()
    }
    with lazy_barriers("paths.bfs_hop"):
        lazy_df = bfs_hops_over_edges(edges, 3)
    lazy = {(r["domain"], r["dist"], r["n_paths"]) for r in lazy_df.collect()}
    assert eager == lazy
    assert ("x.example", 1, 1) in eager
    # SEEDS = ("d0.example", "d7.example"), both at hop 0
    assert eager == {
        ("d0.example", 0, 1), ("d7.example", 0, 1), ("x.example", 1, 1),
    }


def test_equidepth_hist_duckdb_parity_and_semantics(spark, sf_dir):
    """Oracle parity: q_equidepth_hist vs its DuckDB twin
    (SQL-standard NTILE over the identical total order); plus hand
    groups — exact equi-depth split with contiguous bounds, and an
    all-ties group split deterministically by the key tiebreak."""
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.histogram import (
        EQUIDEPTH_HIST_ORACLE,
        q_equidepth_hist,
    )

    li = load_table(spark, sf_dir, "lineitem")
    n = _duck_parity(
        q_equidepth_hist(li), EQUIDEPTH_HIST_ORACLE, sf_dir,
        tables=("lineitem",),
    )
    assert n > 0
    rows = [("A", float(p), p, 1) for p in range(1, 9)]
    rows += [("B", 5.0, k, 1) for k in (1, 2, 3)]
    hand = spark.createDataFrame(
        rows,
        "l_returnflag string, l_extendedprice double, l_orderkey long,"
        " l_linenumber int",
    )
    got = {
        (r["l_returnflag"], r["bucket"]): (r["n"], r["lo_cents"], r["hi_cents"])
        for r in q_equidepth_hist(hand, n_buckets=4).collect()
    }
    assert got == {
        ("A", 1): (2, 100, 200), ("A", 2): (2, 300, 400),
        ("A", 3): (2, 500, 600), ("A", 4): (2, 700, 800),
        ("B", 1): (1, 500, 500), ("B", 2): (1, 500, 500),
        ("B", 3): (1, 500, 500),
    }


def test_equidepth_hist_boundary_independence(spark, sf_dir):
    """The distributed grouped rank is partition-boundary-independent
    (the snm.global_rank property): the histogram is identical under
    degenerate (1), small (3), and default range-partition fan-outs,
    because local-rank + offset always reproduces the total-order
    position regardless of where the partitioner cuts."""
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.histogram import (
        q_equidepth_hist,
    )

    li = load_table(spark, sf_dir, "lineitem").limit(2000)
    ref = sorted(tuple(r) for r in q_equidepth_hist(li, parts=1).collect())
    for parts in (3, 32):
        got = sorted(
            tuple(r) for r in q_equidepth_hist(li, parts=parts).collect()
        )
        assert got == ref, f"parts={parts} diverged"


def test_gini_concentration_duckdb_parity_and_semantics(spark, sf_dir):
    """Oracle parity: q_gini_concentration vs its DuckDB twin
    (rank-weighted integer sufficient statistics); plus hand sources
    — a uniform source has G = 0, total concentration approaches
    (n-1)/n, and a hand-computed mixed case matches Sen's formula."""
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.gini import (
        GINI_CONCENTRATION_ORACLE,
        q_gini_concentration,
    )

    docs = load_table(spark, sf_dir, "documents")
    n = _duck_parity(
        q_gini_concentration(docs), GINI_CONCENTRATION_ORACLE, sf_dir,
        tables=("documents",),
    )
    assert n > 0
    # U: sizes 5,5,5 -> sum_ix = 5+10+15 = 30, G = 60/(3*15) - 4/3 = 0
    # C: sizes 0,0,9 -> sum_ix = 27, G = 54/27 - 4/3 = 2/3 = (n-1)/n
    # M: sizes 1,2,3 -> sum_ix = 1+4+9 = 14, G = 28/(3*6) - 4/3 = 2/9
    rows = (
        [(i, "t", "U", 5) for i in range(3)]
        + [(10, "t", "C", 0), (11, "t", "C", 0), (12, "t", "C", 9)]
        + [(20, "t", "M", 1), (21, "t", "M", 2), (22, "t", "M", 3)]
    )
    hand = spark.createDataFrame(
        rows, "doc_id long, text string, source string, n_chars long"
    )
    got = {
        r["source"]: (r["n"], r["sum_x"], r["sum_ix"], r["gini"])
        for r in q_gini_concentration(hand).collect()
    }
    assert got["U"][:3] == (3, 15, 30) and abs(got["U"][3]) < 1e-12
    assert got["C"][:3] == (3, 9, 27) and abs(got["C"][3] - 2 / 3) < 1e-12
    assert got["M"][:3] == (3, 6, 14) and abs(got["M"][3] - 2 / 9) < 1e-12
