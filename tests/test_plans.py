"""Physical-plan audits: the scale properties the engine promises.

Each test pins a Catalyst/Tungsten behavior that would silently regress
otherwise: predicate pushdown into parquet scans, column pruning,
broadcast joins for dimensions, shuffle-free narrow pipelines, top-k
without global sort. These are the 100 TB design invariants from
SURVEY.md §4 — at sf0.001 the plans are identical in shape.
"""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from node_js_etl_processor_spark.catalog import load_table
from node_js_etl_processor_spark.operators import relational


def plan_text(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_agg_pricing_pushdown_and_pruning(spark, sf_dir):
    df = relational.q_agg_pricing(load_table(spark, sf_dir, "lineitem"))
    plan = plan_text(df)
    # predicate reaches the parquet reader
    assert "PushedFilters" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1].split("\n")[0]
    # column pruning: unused columns never leave the scan
    read_schema = plan.split("ReadSchema")[1].split("\n")[0]
    for needed in ("l_quantity", "l_extendedprice", "l_returnflag"):
        assert needed in read_schema
    for pruned in ("l_orderkey", "l_partkey", "l_suppkey", "l_comment"):
        assert pruned not in read_schema
    # aggregation is partial+final (map-side combine before the shuffle)
    assert plan.count("HashAggregate") >= 2


def test_join_enrich_broadcasts_dimension(spark, sf_dir):
    df = relational.q_join_enrich(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"),
    )
    plan = plan_text(df)
    assert "BroadcastHashJoin" in plan  # nation never shuffles the fact side


def test_clean_project_is_shuffle_free(spark, sf_dir):
    df = relational.q_clean_project(load_table(spark, sf_dir, "customer"))
    plan = plan_text(df)
    assert "Exchange" not in plan
    # "*(1)" is the whole-stage-codegen stage marker in simple mode
    assert "*(1)" in plan_text(df, "simple")


def test_sort_limit_avoids_global_sort(spark, sf_dir):
    df = relational.q_sort_limit(load_table(spark, sf_dir, "orders"))
    plan = plan_text(df)
    # top-k compiles to per-partition heaps + driver merge, not a
    # full sort shuffle
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_window_topk_single_shuffle(spark, sf_dir):
    df = relational.q_window_topk(load_table(spark, sf_dir, "customer"))
    plan = plan_text(df, "simple")
    assert plan.count("Exchange hashpartitioning") == 1
    # rank-filter pushes a per-partition group limit below the shuffle
    assert "WindowGroupLimit" in plan


def test_window_lag_shares_one_window_pass(spark, sf_dir):
    df = relational.q_window_lag(load_table(spark, sf_dir, "events"))
    plan = plan_text(df, "simple")
    # same (partition, order) spec → one Window operator, one exchange
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Window") == 1


def test_parity_pipeline_is_one_narrow_stage(spark):
    """The universities transform must stay a single fused scan→filter→
    project→filter pass — zero exchanges (SURVEY.md §3 EP1)."""
    from node_js_etl_processor_spark.schemas import UNIVERSITIES_RAW_SCHEMA
    from node_js_etl_processor_spark.universities import transform_universities
    from tests.test_universities import RAW_ROWS

    raw = spark.createDataFrame(RAW_ROWS, UNIVERSITIES_RAW_SCHEMA)
    plan = plan_text(transform_universities(raw))
    assert "Exchange" not in plan


def test_filter_required_pushes_isnotnull(spark, sf_dir):
    df = relational.q_filter_required(load_table(spark, sf_dir, "orders"))
    plan = plan_text(df)
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters")[1].split("\n")[0]
    assert "IsNotNull(o_orderpriority)" in pushed


def test_semi_anti_prunes_before_exchange(spark, sf_dir):
    df = relational.q_semi_anti(
        load_table(spark, sf_dir, "customer"), load_table(spark, sf_dir, "orders")
    )
    plan = plan_text(df)
    # the orders side reads only the join key + filter column
    read_schemas = [
        seg.split("\n")[0] for seg in plan.split("ReadSchema")[1:]
    ]
    orders_side = [s for s in read_schemas if "o_custkey" in s]
    assert orders_side and all("o_totalprice" not in s for s in orders_side)


def test_asof_join_is_single_shuffle_no_join(spark, sf_dir):
    """The as-of join must compile to union + window — ONE exchange on
    the key and NO join operator at all (the formulation's entire
    point; a range self-join would show BroadcastNestedLoopJoin)."""
    from node_js_etl_processor_spark.operators import temporal

    df = temporal.q_asof_join(load_table(spark, sf_dir, "events"))
    plan = plan_text(df, "simple")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_range_join_is_equi_join_not_nested_loop(spark, sf_dir):
    from node_js_etl_processor_spark.operators import temporal

    df = temporal.q_range_join(load_table(spark, sf_dir, "events"))
    plan = plan_text(df, "simple")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )


def test_sample_hash_is_narrow(spark, sf_dir):
    df = relational.q_sample_hash(load_table(spark, sf_dir, "orders"))
    plan = plan_text(df)
    assert "Exchange" not in plan


def test_grouping_sets_single_expand_single_shuffle(spark, sf_dir):
    df = relational.q_grouping_sets(load_table(spark, sf_dir, "orders"))
    plan = plan_text(df, "simple")
    assert plan.count("Expand") == 1
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_shipping_priority_broadcasts_and_topk(spark, sf_dir):
    df = relational.q_shipping_priority(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )
    plan = plan_text(df)
    assert "BroadcastHashJoin" in plan  # filtered customer never shuffles facts
    assert "TakeOrderedAndProject" in plan  # top-k, no global sort
    # date filters reach both fact scans
    pushed = plan.split("PushedFilters")
    assert any("o_orderdate" in seg.split("\n")[0] for seg in pushed[1:])
    assert any("l_shipdate" in seg.split("\n")[0] for seg in pushed[1:])


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    """Tables bucketed on the join key must join with ZERO exchanges —
    the on-disk layout satisfies the distribution requirement (the
    persistent co-location lever for 100 TB fact-fact joins)."""
    from node_js_etl_processor_spark.sources.bucketed import read_table, write_bucketed

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    write_bucketed(orders.select("o_orderkey", "o_custkey", "o_totalprice"),
                   "b_orders", ["o_custkey"], n_buckets=4)
    write_bucketed(customer.select("c_custkey", "c_mktsegment"),
                   "b_customer", ["c_custkey"], n_buckets=4)
    try:
        bo, bc = read_table(spark, "b_orders"), read_table(spark, "b_customer")
        joined = bo.join(
            bc.hint("shuffle_merge"), bo.o_custkey == bc.c_custkey
        ).select("o_orderkey", "c_mktsegment")
        plan = plan_text(joined)
        assert "Exchange" not in plan
        assert "SortMergeJoin" in plan
        # correctness unchanged vs the unbucketed join
        base = orders.join(customer, orders.o_custkey == customer.c_custkey).count()
        assert joined.count() == base
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_chunk_pack_pipeline_two_exchanges(spark, sf_dir):
    """The chunk→dedup→pack capstone must compile to the narrow chunk
    explode plus exactly TWO keyed exchanges (chunk_fp dedup window,
    shard packing window) — the per-shard aggregation and its distinct
    bin count must reuse the shard partitioning, not add a third."""
    from node_js_etl_processor_spark.operators import text

    df = text.q_chunk_pack_pipeline(load_table(spark, sf_dir, "documents"))
    plan = plan_text(df, "simple")
    assert 1 <= plan.count("Exchange hashpartitioning") <= 2


def test_curation_pipeline_two_exchanges_filter_before_explode(spark, sf_dir):
    """The full curation capstone (gate→chunk→dedup→pack) must keep the
    chunk_pack shape — exactly TWO keyed exchanges — AND evaluate the
    quality gate BEFORE the chunk explode multiplies rows (a doc that
    fails the gate must never be chunked: at 100 TB the gate drops most
    of the crawl, so filter-then-explode vs explode-then-filter is the
    difference between chunking the corpus and chunking the keep-set)."""
    from node_js_etl_processor_spark.operators import text

    df = text.q_curation_pipeline(load_table(spark, sf_dir, "documents"))
    plan = plan_text(df, "simple")
    assert 1 <= plan.count("Exchange hashpartitioning") <= 2
    # the gate Filter sits below Generate (explode) in the plan tree:
    # rendered top-down, Generate must appear before the lang gate
    gen = plan.index("Generate explode")
    gate = plan.index("lorem ipsum")  # unmistakable gate-predicate text
    assert gen < gate, "quality gate must run under (before) the explode"
    # column pruning reaches the scan: only the gate/chunk inputs are
    # read (source and n_chars never leave the parquet footer)
    fplan = plan_text(df)
    read_schema = fplan.split("ReadSchema:")[1].split("\n")[0]
    assert "text" in read_schema and "lang" in read_schema
    assert "source" not in read_schema and "n_chars" not in read_schema


def test_rank_funcs_share_one_window(spark, sf_dir):
    df = relational.q_window_rank_funcs(load_table(spark, sf_dir, "customer"))
    plan = plan_text(df, "simple")
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Window") == 1


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    """Hive-partitioned layout must turn an equality filter into a
    PartitionFilters entry — the scan lists ONLY the matching
    directory (at 100 TB: the difference between reading one
    partition and the whole table)."""
    events = load_table(spark, sf_dir, "events")
    out = str(tmp_path / "events_by_type")
    events.write.partitionBy("event_type").mode("overwrite").parquet(out)

    back = spark.read.parquet(out).filter(F.col("event_type") == "purchase")
    plan = plan_text(back)
    pf = plan.split("PartitionFilters")[1].split("\n")[0] if "PartitionFilters" in plan else ""
    assert "event_type" in pf
    # and the data filter does NOT appear as a post-scan Filter on rows
    assert back.count() == events.filter(F.col("event_type") == "purchase").count()


def test_no_declared_query_uses_nested_loop_or_cartesian(spark, sf_dir):
    """Global invariant over the WHOLE declared query set: no plan may
    contain a CartesianProduct or BroadcastNestedLoopJoin — every join
    in the engine is keyed (equi/bucketed/banded). Guards future
    queries against accidental theta-join plans."""
    import __spark_entry__ as entrymod

    # q_bm25 fans a SINGLE-row broadcast aggregate (corpus n_docs/avgdl)
    # across the term table — Spark plans scalar-subquery fan-out as a
    # BroadcastNestedLoopJoin over that one row, which is O(n·1), not a
    # real nested loop. q_hybrid_search embeds the same narrow-BM25
    # stage, so it inherits the same single-row fan-out. Every other
    # query must stay keyed.
    # queries whose only BroadcastNestedLoopJoin is a 1-row scalar
    # fan-out (corpus stats / N) — a broadcast of a parameter, not a
    # pair scan (q_tfidf's n_docs cross join is in the set).
    # q_kmv_distinct joined: its theta-algebra crossJoins fan
    # the 1-row min-theta / entry-count aggregates across ≤ k-row
    # sketch frames — every BNLJ operand is parameter-sized by
    # construction (the sketch is localCheckpoint-ed at ≤ k rows per
    # group), pinned by test_kmv_query_materializes_sketch_once.
    # Same 1-row-aggregate class: q_kmv_difference fans
    # the min-theta / entry-count scalars across ≤ k-row frames (the
    # q_kmv_distinct argument verbatim); q_pmi_collocations crossJoins
    # the n_tokens and n_bigrams corpus totals (1 row each) onto the
    # min-count-filtered bigram frame; q_itemset_pairs crossJoins the
    # n_baskets total (1 row) onto the support-filtered pair frame.
    scalar_fanout_ok = {
        "q_bm25", "q_hybrid_search", "q_tfidf", "q_kmv_distinct",
        "q_kmv_difference", "q_pmi_collocations", "q_itemset_pairs",
    }
    # q_hll_intersect expands the PAIR LATTICE of group labels - a
    # cross join of two aggregated frames of at most #groups rows
    # (5x5 here, groups^2 at scale, never data-sized); its
    # boundedness is pinned separately by
    # test_hll_intersect_cartesian_is_group_sized.
    group_lattice_ok = {"q_hll_intersect"}
    offenders = []
    for name, fn in entrymod.queries().items():
        if name in group_lattice_ok:
            continue
        plan = plan_text(fn(spark, sf_dir), "simple")
        if "CartesianProduct" in plan or (
            "BroadcastNestedLoopJoin" in plan and name not in scalar_fanout_ok
        ):
            offenders.append(name)
    assert not offenders, offenders


def test_hll_intersect_cartesian_is_group_sized(spark, sf_dir):
    """The exemption's justification, pinned: q_hll_intersect's only
    non-equi join is the label pair lattice - BOTH operands are
    distinct-label frames (at most #groups rows), so the product is
    groups^2, independent of data size. Bucket-level operations stay
    keyed (partial-aggregated hash aggregation), and the lattice
    count equals C(groups, 2)."""
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.sketch import q_hll_intersect

    df = q_hll_intersect(load_table(spark, sf_dir, "orders"))
    assert df.count() == 10  # C(5,2): the lattice, nothing data-sized
    plan = plan_text(df, "simple")
    assert "partial_max" in plan


def test_bm25_narrow_no_explode_no_shuffle_before_stats(spark, sf_dir):
    """The declared BM25 path must stay narrow: no Generate (explode)
    anywhere, and the only join is the broadcast of the 1-row stats."""
    from node_js_etl_processor_spark.operators.text import q_bm25

    plan = plan_text(q_bm25(load_table(spark, sf_dir, "documents")))
    assert "Generate" not in plan  # no explode
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_minhash_signatures_shuffle_free(spark, sf_dir):
    """Signatures are one narrow projection: no Exchange other than the
    spread() repartition of the under-parallel local scan."""
    from node_js_etl_processor_spark.operators.dedup import minhash_signatures

    plan = plan_text(minhash_signatures(load_table(spark, sf_dir, "documents")))
    assert "HashAggregate" not in plan  # no explode+groupBy formulation
    assert plan.count("Exchange") <= 2  # spread() round-robin only


def test_approx_distinct_sketch_not_in_expand(spark, sf_dir):
    """q_approx_distinct must keep HLL sketches out of the
    multi-distinct Expand: two separate aggregations joined on the
    group key (the combined form measured 3.6x slower)."""
    orders = load_table(spark, sf_dir, "orders")
    plan = plan_text(relational.q_approx_distinct(orders))
    # the exact-distinct side has its Expand; the sketch agg must not —
    # i.e. every Expand section is free of approx_count_distinct
    for section in plan.split("Expand")[1:]:
        head = section[:400]
        assert "approx_count_distinct" not in head


def test_semdedup_cell_keyed_join_no_collect(spark, sf_dir):
    """q_semdedup's candidate pairs must come from a cell-keyed
    equi-join (AQE-splittable), never a cartesian product or a
    collect_list-per-cell mega-row."""
    from node_js_etl_processor_spark.operators.similarity import q_semdedup

    plan = plan_text(q_semdedup(load_table(spark, sf_dir, "embeddings")))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "collect_list" not in plan
    assert "cell" in plan  # join keyed on the cluster id


def _generate_outer_flags(plan: str) -> list[bool]:
    """Extract the `outer` flag of every Generate node in a logical
    plan string: `Generate explode(x), [idx,] <outer>, [out#n]`."""
    import re

    flags = []
    for line in plan.splitlines():
        m = re.search(
            r"Generate \w+\(.*\)(?:, \[[\d, ]*\])?, (true|false), \[[^\[\]]*\]\s*$",
            line,
        )
        if m:
            flags.append(m.group(1) == "true")
    return flags


@pytest.mark.parametrize(
    "build",
    [
        pytest.param(lambda s, d: __import__(
            "node_js_etl_processor_spark.operators.text", fromlist=["x"]
        ).q_decontaminate(load_table(s, d, "documents")), id="decontaminate"),
        pytest.param(lambda s, d: __import__(
            "node_js_etl_processor_spark.operators.text", fromlist=["x"]
        ).q_decontaminate_hashed(load_table(s, d, "documents")), id="decontaminate_hashed"),
        pytest.param(lambda s, d: __import__(
            "node_js_etl_processor_spark.operators.text", fromlist=["x"]
        ).q_repetition_rules(load_table(s, d, "documents")), id="repetition_rules"),
        pytest.param(lambda s, d: __import__(
            "node_js_etl_processor_spark.operators.text", fromlist=["x"]
        ).q_span_dedup(load_table(s, d, "documents")), id="span_dedup"),
        pytest.param(lambda s, d: __import__(
            "node_js_etl_processor_spark.operators.text", fromlist=["x"]
        ).bm25_scores(load_table(s, d, "documents"), ("spark", "data")), id="bm25_exploded"),
        pytest.param(lambda s, d: __import__(
            "node_js_etl_processor_spark.operators.text", fromlist=["x"]
        ).q_chunk_documents(load_table(s, d, "documents")), id="chunk_documents"),
        pytest.param(lambda s, d: __import__(
            "node_js_etl_processor_spark.operators.text", fromlist=["x"]
        ).q_lm_perplexity(load_table(s, d, "documents")), id="lm_perplexity"),
    ],
)
def test_no_inferred_generate_filter(spark, sf_dir, build):
    """Guard for the InferFiltersFromGenerate dodge: plain `explode` lets
    Catalyst clone the generator's array expression into a pushed-down
    `size(...) > 0` pre-filter BELOW the tokenizing projection,
    re-tokenizing every document once per output row (measured 3x on
    q_decontaminate). The fix is `explode_outer` + isNotNull at text.py's
    explode sites; this test fails if any site reverts to plain explode
    (outer=false in the optimized plan) or a Spark upgrade re-infers the
    quadratic filter."""
    df = build(spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    flags = _generate_outer_flags(plan)
    assert flags, f"expected at least one Generate node:\n{plan}"
    assert all(flags), f"non-outer Generate reintroduces the inferred filter:\n{plan}"
    # belt-and-braces: the quadratic's signature is the generator's
    # own HOF expression cloned inside a size() comparison — the
    # deliberate corpus filters are size(<tokenize>) with NO transform
    import re

    assert not re.search(r"size\(array_distinct\(transform\(", plan), (
        "inferred size(shingles) filter found below Generate:\n" + plan
    )


def test_lm_perplexity_scan_and_broadcast_discipline(spark, sf_dir):
    """q_lm_perplexity: the corpus must be scanned at most twice (doc
    tokens + vocab; the corpus-total scalar comes from a global window
    over the AGGREGATED vocab frame, never a third scan+tokenize), and
    the scoring join must build on the VOCAB side — post-explode
    estimates otherwise mislead Catalyst into broadcasting the corpus
    token stream (BuildLeft)."""
    from node_js_etl_processor_spark.operators.text import q_lm_perplexity

    df = q_lm_perplexity(load_table(spark, sf_dir, "documents"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") <= 2
    assert "BuildLeft" not in plan  # never broadcast the corpus side
    assert "BroadcastHashJoin" in plan  # vocab side broadcast, hinted


def test_pq_encode_narrow_and_topk_no_global_sort(spark, sf_dir):
    """PQ: encoding must be ONE narrow codegen projection (no
    aggregate, no keyed exchange — the only Exchange allowed is
    spread()'s round-robin), and ADC top-k must compile to
    TakeOrderedAndProject, never a range-partitioned global sort."""
    from node_js_etl_processor_spark.operators.similarity import (
        q_pq_encode,
        q_pq_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    p1 = q_pq_encode(emb)._jdf.queryExecution().executedPlan().toString()
    assert p1.count("Exchange") <= 1  # spread() only
    assert "HashAggregate" not in p1
    p2 = q_pq_topk(emb)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in p2
    assert "rangepartitioning" not in p2


def test_html_extract_and_url_dedup_plan_shape(spark, sf_dir):
    """The web-entry stages keep their promised shapes:
    q_html_extract is ONE narrow codegen'd projection (zero exchanges
    — it must run at scan bandwidth), and q_url_dedup has exactly the
    canonical-key groupBy exchange with map-side partial aggregation."""
    from node_js_etl_processor_spark.operators import text

    docs = load_table(spark, sf_dir, "documents")
    p_html = plan_text(text.q_html_extract(docs))
    assert "Exchange" not in p_html
    assert "* Project" in p_html  # codegen'd projection (formatted-mode marker)

    p_url = plan_text(text.q_url_dedup(docs))
    # formatted mode prints each node in the tree AND a detail block —
    # count the detail headers
    assert p_url.count(") Exchange") == 1
    assert p_url.count("HashAggregate") >= 2  # partial + final


def test_lm_bigram_broadcast_only_joins(spark, sf_dir):
    """q_lm_bigram_perplexity's five joins must all be broadcast
    (probability tables are vocabulary-sized parameters) — a
    SortMergeJoin here means a token- or bigram-keyed global sort
    crept in."""
    from node_js_etl_processor_spark.operators import text

    plan = plan_text(text.q_lm_bigram_perplexity(load_table(spark, sf_dir, "documents")))
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 4


def test_lm_bigram_doc_broadcast_gated_by_input_size(spark, sf_dir, monkeypatch):
    """The doc-keyed scoring join's
    broadcast hint is corpus-cardinality and must be BOUNDED — with
    the input-size ceiling forced to 0 the hint must disappear and the
    planner's keyed shuffle take over (no broadcast of big_doc; the
    vocabulary-table hints remain)."""
    from node_js_etl_processor_spark.operators import text

    monkeypatch.setattr(text, "LM_DOC_BROADCAST_MAX_INPUT_BYTES", 0)
    docs = load_table(spark, sf_dir, "documents")
    assert (text._scan_size_bytes(docs) or 0) > 0  # gate input is live
    plan = plan_text(text.q_lm_bigram_perplexity(docs))
    # the un-hinted doc-keyed join plans as a shuffle join (its inputs
    # are checkpoint-statless), while the vocab-table joins stay hinted
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    assert plan.count("BroadcastHashJoin") >= 3


def test_ivfpq_rescore_single_encode_pass(spark, sf_dir):
    """The inline IVFADC+rescore query runs the Arrow PQ-encode kernel
    ONCE: the rescore side joins the shortlist back to the assignment
    frame, not the encoded one. Two MapInPandas nodes in the plan =
    the per-branch re-encode regression this test pins out."""
    from node_js_etl_processor_spark.operators import similarity

    plan = plan_text(similarity.q_ivfpq_rescore(load_table(spark, sf_dir, "embeddings")))
    assert plan.count(") MapInPandas") == 1, plan.count(") MapInPandas")
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_embedding_pool_bounded_agg_buffers(spark, sf_dir):
    """embedding_pool must aggregate with dim scalar SUMs
    (codegen HashAggregate + map-side partial_sum, buffers bounded at
    dim doubles per group) — never collect_list, whose per-group
    buffer is O(group_size x dim) and forces ObjectHashAggregate."""
    from node_js_etl_processor_spark.operators import similarity

    plan = plan_text(
        similarity.q_embedding_pool(load_table(spark, sf_dir, "embeddings")),
        "simple",
    )
    assert "ObjectHashAggregate" not in plan
    assert "collect_list" not in plan
    assert "partial_sum" in plan


def test_scd2_single_shuffle(spark, sf_dir):
    """Both SCD2 windows share the o_custkey partitioning — one
    exchange; no join anywhere."""
    df = relational.q_scd2(load_table(spark, sf_dir, "orders"))
    plan = plan_text(df, "simple")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_fuzzy_match_blocks_never_cartesian(spark, sf_dir):
    """FastSS candidates come from a key-equi join — a cartesian
    or nested-loop pair scan is the regression this pins out."""
    from node_js_etl_processor_spark.operators import dedup

    df = dedup.q_fuzzy_match(load_table(spark, sf_dir, "customer"))
    plan = plan_text(df, "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )


def test_tfidf_broadcasts_df_table(spark, sf_dir):
    """The vocabulary-sized df/N sides broadcast into the scoring
    join — a sort-merge join there means the corpus-sized tf frame
    shuffled on term for no reason."""
    from node_js_etl_processor_spark.operators import text

    df = text.q_tfidf(load_table(spark, sf_dir, "documents"))
    plan = plan_text(df, "simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_fuzzy_match_shuffles_hashed_keys_not_names(spark, sf_dir, lazy_barriers):
    """The hardened FastSS blocking must exchange on the
    fixed-width (klen, khash) pair — xxhash64 visible in the plan's
    partitioning — and the name column must NOT ride the blocking
    shuffle (it joins back after the DISTINCT pair set)."""
    from node_js_etl_processor_spark.operators import dedup

    # the postings cut left out: the invariant is pinned on the
    # full build plan (a cut truncates the plan at an RDD scan)
    with lazy_barriers("dedup.q_fuzzy_match"):
        df = dedup.q_fuzzy_match(load_table(spark, sf_dir, "customer"))
    plan = plan_text(df)
    assert "xxhash64" in plan
    exchanges = [
        seg.split("\n")[0] for seg in plan.split("Exchange hashpartitioning(")[1:]
    ]
    blocking = [e for e in exchanges if "khash" in e]
    # at fixture scale the keyed sides auto-broadcast (also name-free);
    # when a blocking exchange does exist it must move khash, not names
    assert blocking or "BroadcastHashJoin" in plan, plan
    assert all("c_name" not in e for e in blocking), blocking
    # the default (cut) form must stay name-free in every
    # exchange too — the checkpointed postings are (custkey, slen,
    # klen, khash) by construction
    plan_m = plan_text(dedup.q_fuzzy_match(load_table(spark, sf_dir, "customer")))
    m_exchanges = [
        seg.split("\n")[0]
        for seg in plan_m.split("Exchange hashpartitioning(")[1:]
    ]
    assert all("c_name" not in e for e in [x for x in m_exchanges if "khash" in x])


def test_link_graph_one_exchange_all_codegen(spark, sf_dir):
    """The link-graph build is codegen string/regexp work + ONE
    keyed aggregation exchange (the final orderBy adds a range
    partition, not a hash one) — no Python evaluation anywhere."""
    from node_js_etl_processor_spark.operators.graph import q_link_graph

    df = q_link_graph(load_table(spark, sf_dir, "documents"))
    plan = plan_text(df, "simple")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "EvalPython" not in plan  # no Batch/ArrowEvalPython
    # map-side combine on the corpus-sized side
    assert "partial_count" in plan


def test_bpe_pair_counts_two_keyed_exchanges(spark, sf_dir):
    """BPE first-step statistics = the word-frequency exchange +
    the pair exchange, nothing else; both HashAggregates get map-side
    partials and no Python touches the plan."""
    from node_js_etl_processor_spark.operators.bpe import bpe_top_pairs

    df = bpe_top_pairs(load_table(spark, sf_dir, "documents"))
    plan = plan_text(df, "simple")
    assert 1 <= plan.count("Exchange hashpartitioning") <= 2
    assert "EvalPython" not in plan
    assert "partial" in plan.lower() or "HashAggregate" in plan


def test_token_accounting_one_exchange_after_arrow_kernel(spark, sf_dir):
    """token_accounting = the Arrow encode kernel feeding ONE
    source-keyed aggregation exchange with map-side partials — the
    per-doc metadata (source, estimate) rides THROUGH the kernel
    (carry_cols), so no corpus-sized self-join appears in the plan."""
    from node_js_etl_processor_spark.operators.bpe import token_accounting

    docs = load_table(spark, sf_dir, "documents")
    df = token_accounting(docs, [("t", "h", 9), ("th", "e</w>", 7)])
    plan = plan_text(df, "simple")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "MapInPandas" in plan
    assert "Join" not in plan  # carry_cols, not a doc_id self-join
    assert "partial_count" in plan or "partial_sum" in plan


def test_video_frames_zero_shuffles_before_sort(spark, sf_dir):
    """The chained video loop (synth -> RIFF walk + JPEG decode ->
    sample) is two mapInPandas passes with NO shuffle before the
    declared wrapper's presentation sort — blobs never move between
    executors, the 100 TB media-pass shape (the GIF pin's twin)."""
    from node_js_etl_processor_spark.operators.multimodal import q_video_frames

    df = q_video_frames(load_table(spark, sf_dir, "documents"))
    plan = plan_text(df, "simple")
    assert plan.count("MapInPandas") == 2
    assert "Exchange hashpartitioning" not in plan  # only the sort's range
    assert "Join" not in plan


def test_hll_sketch_all_jvm_partial_aggregated(spark, sf_dir):
    """The oracle-checkable HLL is pure JVM column work — the
    multiply-xorshift hash, rank arithmetic, register MAX and harmonic
    fold all stay inside codegen (no Python evaluation node), with
    map-side partial aggregation on both the register and the
    summary exchanges, and the exact twin joining at group
    granularity (5 rows) — the constant-memory cardinality shape."""
    from node_js_etl_processor_spark.operators.sketch import q_hll_distinct

    df = q_hll_distinct(load_table(spark, sf_dir, "orders"))
    plan = plan_text(df, "simple")
    assert "EvalPython" not in plan
    assert "partial_max" in plan  # register MAX combines map-side
    # scan prunes to the two columns the sketch needs
    full = plan_text(df)
    read_schema = full.split("ReadSchema")[1].split("\n")[0]
    assert "o_custkey" in read_schema and "o_orderpriority" in read_schema
    assert "o_comment" not in read_schema and "o_totalprice" not in read_schema


def test_audio_paths_zero_shuffles_before_sort(spark, sf_dir):
    """Both compressed-audio loops (G.711 and IMA-ADPCM) are two
    chained mapInPandas passes with NO shuffle before the declared
    wrapper's presentation sort — payload bytes never move between
    executors, the same 100 TB media-pass shape pinned for the WAV,
    GIF and MJPEG-AVI families."""
    from node_js_etl_processor_spark.operators.audio import (
        q_audio_adpcm,
        q_audio_g711,
    )

    docs = load_table(spark, sf_dir, "documents")
    for q in (q_audio_g711, q_audio_adpcm):
        plan = plan_text(q(docs), "simple")
        assert plan.count("MapInPandas") == 2
        assert "Exchange hashpartitioning" not in plan
        assert "Join" not in plan


def test_hdr_sketch_one_data_sized_shuffle(spark, sf_dir):
    """The quantile histogram's only input-sized exchange is the
    partial-aggregated (group, idx) groupBy; the window fold and the
    final aggregation operate on bucket rows (≤ ~1.3k per group). No
    Python anywhere; the scan prunes to the two sketch columns."""
    from node_js_etl_processor_spark.operators.sketch import q_hdr_quantiles

    df = q_hdr_quantiles(load_table(spark, sf_dir, "lineitem"))
    plan = plan_text(df, "simple")
    assert "EvalPython" not in plan
    assert "partial_count" in plan  # map-side combine on the data shuffle
    full = plan_text(df)
    read_schema = full.split("ReadSchema")[1].split("\n")[0]
    assert "l_extendedprice" in read_schema and "l_returnflag" in read_schema
    assert "l_comment" not in read_schema and "l_partkey" not in read_schema


def test_image_dedup_single_key_exchange_no_payload_past_decode(spark, sf_dir):
    """The perceptual image dedup's only exchange is the 8-byte
    dhash window partitioning — pixels and payloads never shuffle.
    The chained synth→decode passes are Arrow kernels (two
    MapInPandas lanes plus the ok/rejected split), and no join
    appears anywhere: the grouping is window functions over the key."""
    from node_js_etl_processor_spark.operators.phash import q_image_dedup

    df = q_image_dedup(load_table(spark, sf_dir, "documents"))
    plan = plan_text(df, "simple")
    assert "Join" not in plan
    # the only hash exchanges are dhash-keyed (window partitioning);
    # payload columns never appear in an Exchange line
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "dhash" in line and "payload" not in line


def test_image_neardup_exact_path_no_distinct_aggregate(spark, sf_dir):
    """The first-shared-band rule — the exact (uncapped) band
    self-join generates each qualifying pair exactly once (earlier
    bands must differ), so the plan carries NO deduplicating
    aggregate at all; pixels still never shuffle (no exchange keyed
    on payload)."""
    from node_js_etl_processor_spark.operators.phash import q_image_neardup

    df = q_image_neardup(load_table(spark, sf_dir, "documents"))
    plan = plan_text(df, "simple")
    assert "HashAggregate" not in plan  # distinct() is gone
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "payload" not in line


def test_heavy_hitters_certified_path_broadcasts_candidates(spark):
    """On data where the Misra-Gries guarantee certifies (skewed
    keys), the exact recount joins the base table against the
    BROADCAST candidate set — the full-key-space shuffle never
    happens; and the merged-summary frame the candidates come from is
    parameter-sized by construction (≤ (capacity+1)·partitions rows).
    The uncertified path (near-uniform fixtures) is the documented
    plain exact groupBy — pinned implicitly by the oracle-parity test
    running against the real orders fixture."""
    import numpy as np
    import pandas as pd

    from node_js_etl_processor_spark.operators.heavy import heavy_hitters_topk

    rng = np.random.RandomState(9)
    keys = np.concatenate(
        [np.repeat(np.arange(5), 500), rng.randint(100, 2000, 3000)]
    )
    rng.shuffle(keys)
    df = spark.createDataFrame(pd.DataFrame({"k": keys.astype(np.int64)}))
    out = heavy_hitters_topk(df, "k", k=5, capacity=64)
    plan = plan_text(out)
    assert "BroadcastHashJoin" in plan  # certified: candidates broadcast
    # and the result is still the exact top-5
    got = [(int(r["cnt"]), int(r["k"])) for r in out.collect()]
    exact = pd.Series(keys).value_counts()
    want = sorted(((int(c), int(k)) for k, c in exact.items()),
                  key=lambda t: (-t[0], t[1]))[:5]
    assert got == want


def test_setsim_join_plan_no_cartesian_and_filters_in_join(spark, sf_dir):
    """The exact set-similarity join's scale
    claims — no CartesianProduct / BroadcastNestedLoopJoin anywhere
    (the candidate step is an equi-join, the verify step joins packed
    digest arrays by rep id), and the length + bloom filters ride the
    candidate join's condition (candidates die inside the join, not
    in a post-shuffle filter). At the declared 19/20 threshold the
    pigeonhole signature join generates candidates, so the df /
    rank machinery must be GONE from the plan — no Window node, no
    row_number, no per-token document-frequency aggregation; the
    prefilter replaced exchanges (df groupBy, join-back, per-doc rank
    window) and must not have added one."""
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.setsim import q_setsim_join

    docs = load_table(spark, sf_dir, "documents")
    q = q_setsim_join(docs)
    plan = plan_text(q)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the candidate join carries the length filter (greatest/least on
    # the two set sizes) inside its join condition
    joined = [l for l in plan.splitlines() if "Join" in l and "greatest" in l]
    assert joined, "length filter not in the join condition"
    # the bloom miss-count bound rides the SAME join condition
    # (two long bit-ops per pair — candidates die inside the join)
    assert any("bit_count" in l for l in joined), (
        "bloom miss-count bound not in the candidate join condition"
    )
    # pigeonhole path: candidates come from the (k, gid, XOR)
    # signature equi-join — the prefix path's rank window and df agg
    # are structurally absent at t >= 9/10
    assert "Window" not in plan
    assert "row_number" not in plan
    assert q.count() > 0

    # the still-live prefix path (t < 9/10) keeps its scale
    # claims: the POSITIONAL filter (rank arithmetic) rides the
    # candidate join's condition, not a post-shuffle filter — output-
    # equality tests cannot catch this regressing because the filter
    # is output-neutral
    from node_js_etl_processor_spark.operators.setsim import setsim_join

    plan_lo = plan_text(setsim_join(docs, 3, 5))
    lo_joins = [
        l for l in plan_lo.splitlines() if "Join" in l and "rank" in l
    ]
    assert lo_joins, "positional/index-prefix filters not in the join"
    assert "row_number" in plan_lo  # the rank machinery is live here

    # the size gate: a corpus whose largest set exceeds
    # pigeonhole_max_sz must fall back to the prefix path even at the
    # declared 19/20 threshold (the signature enumeration is
    # quadratic per set — the gate is the cliff guard)
    plan_gated = plan_text(setsim_join(docs, 19, 20, pigeonhole_max_sz=1))
    assert "row_number" in plan_gated
    # the asymmetric containment variant: same no-cartesian claims
    from node_js_etl_processor_spark.operators.setsim import (
        q_containment_decon,
    )

    plan2 = plan_text(q_containment_decon(docs))
    assert "CartesianProduct" not in plan2
    assert "BroadcastNestedLoopJoin" not in plan2


def test_interval_coverage_single_keyed_exchange(spark, sf_dir):
    """q_interval_coverage: the sweep-line windows and the island
    aggregation all reuse ONE hashpartitioning(user_id) exchange —
    the groupBy's (user_id, island) clustering is satisfied by the
    window's user_id partitioning, so Catalyst inserts no second
    shuffle and no global sort ever appears."""
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.intervals import (
        q_interval_coverage,
    )

    plan = plan_text(q_interval_coverage(load_table(spark, sf_dir, "events")))
    assert plan.count("Arguments: hashpartitioning") == 1
    assert "hashpartitioning(user_id" in plan
    assert "SinglePartition" not in plan
    assert "rangepartitioning" not in plan


def test_span_extents_two_keyed_exchanges_no_joins(spark, sf_dir):
    """q_span_extents: NO joins anywhere (the duplication gate is a
    count window over the hash, not a groupBy + join-back), exactly
    TWO keyed exchanges — hash (duplication window) and doc_id (the
    sweep windows + island groupBy share one, the q_interval_coverage
    subset-clustering discipline) — and no global sort or single
    partition ever appears."""
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.spans import q_span_extents

    plan = plan_text(q_span_extents(load_table(spark, sf_dir, "documents")))
    for join in ("Join", "CartesianProduct", "BroadcastNestedLoop"):
        assert join not in plan
    assert 1 <= plan.count("Arguments: hashpartitioning") <= 2
    assert "hashpartitioning(h" in plan
    assert "hashpartitioning(doc_id" in plan
    assert "SinglePartition" not in plan
    assert "rangepartitioning" not in plan


def test_skyline_pruned_before_single_partition(spark, sf_dir):
    """q_skyline: no self-join anywhere (the quadratic dominance
    form is rewritten away — no SortMergeJoin/Cartesian/BNLJ); the
    only SinglePartition exchange is the FINAL window over the
    per-size pruned survivors (bounded by the size domain), after
    two keyed exchanges (pair collapse, per-size window)."""
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.skyline import q_skyline

    plan = plan_text(q_skyline(load_table(spark, sf_dir, "part")))
    for join in ("SortMergeJoin", "CartesianProduct", "BroadcastNestedLoop"):
        assert join not in plan
    assert plan.count("Arguments: SinglePartition") == 1
    assert "hashpartitioning(p_size" in plan
    assert "hashpartitioning(price_cents" in plan
    # pair collapse is partial+final (map-side combine pre-shuffle)
    assert plan.count("HashAggregate") >= 2


def test_kmv_sketch_two_phase_bottom_k_plan(spark, sf_dir):
    """kmv_sketch: the corpus-sized work is the distinct (keyed,
    partially aggregated map-side) plus the SALTED pre-window — the
    final per-group window sorts only pre-pruned survivors. No
    single-partition exchange appears anywhere in the sketch build."""
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.kmv import kmv_sketch

    plan = plan_text(
        kmv_sketch(load_table(spark, sf_dir, "orders"), "o_orderstatus", "o_custkey")
    )
    assert "SinglePartition" not in plan
    # salted phase partitions by (g, h % SALTS): the % shows up in
    # the exchange's hashpartitioning arguments
    assert "% 16" in plan
    # distinct has map-side partial aggregation
    assert plan.count("HashAggregate") >= 2


def test_kmv_query_materializes_sketch_once(spark, sf_dir):
    """q_kmv_distinct: the sketch is localCheckpoint-ed, so the plan
    of the 8-row result reads the materialized k-row RDD — the
    corpus scan does NOT appear once per algebra branch."""
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.kmv import q_kmv_distinct

    df = q_kmv_distinct(load_table(spark, sf_dir, "orders"))
    plan = plan_text(df, "simple")
    assert "ExistingRDD" in plan
    assert "parquet" not in plan  # no re-scan downstream of the sketch


def test_attribution_single_keyed_exchange_no_joins(spark, sf_dir):
    """q_attribution: both window frames and the
    purchase filter ride ONE hashpartitioning(user_id) exchange — no
    join of any kind appears (the purchases x touches self-join
    formulation is rewritten away)."""
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.attribution import (
        q_attribution,
    )

    plan = plan_text(q_attribution(load_table(spark, sf_dir, "events")))
    # membership + upper bound, not exact equality: the invariant is "no EXTRA
    # exchange", and an exact count would fail on a harmless plan
    # improvement that removes the one keyed exchange
    assert plan.count("Arguments: hashpartitioning") <= 1
    assert "hashpartitioning(user_id" in plan
    for join in ("Join", "CartesianProduct"):
        assert join not in plan
    assert "SinglePartition" not in plan


def test_pmi_collocations_filter_before_joins(spark, sf_dir):
    """q_pmi_collocations: the min-count filter
    collapses the bigram frame BEFORE the unigram joins (the filter
    sits under the join in the plan), the corpus aggregations are
    partial+final, and the only non-equi joins are the two 1-row
    scalar fan-outs (N, M)."""
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.colloc import (
        q_pmi_collocations,
    )

    df = q_pmi_collocations(load_table(spark, sf_dir, "documents"))
    plan = plan_text(df)
    simple = plan_text(df, "simple")
    assert "CartesianProduct" not in plan
    assert simple.count("BroadcastNestedLoopJoin") <= 2  # N and M fan-outs
    assert plan.count("HashAggregate") >= 4  # uni + bi, partial+final
    # the n_xy >= min_count filter is below every join: in formatted
    # output the Filter node holding it must appear, and no scan of
    # the unfiltered bigram frame reaches a join
    assert ">= 20" in plan or ">= 20)" in plan


def test_itemset_pairs_support_filter_before_joins(spark, sf_dir):
    """q_itemset_pairs: the min-support filter
    collapses the pair frame below the vocabulary joins, both corpus
    aggregations are partial+final, and the only non-equi join is the
    1-row n_baskets fan-out."""
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.basket import q_itemset_pairs

    df = q_itemset_pairs(load_table(spark, sf_dir, "lineitem"))
    plan = plan_text(df)
    simple = plan_text(df, "simple")
    assert "CartesianProduct" not in plan
    assert simple.count("BroadcastNestedLoopJoin") <= 1
    assert plan.count("HashAggregate") >= 4
    assert ">= 2" in plan  # the support filter node exists pre-join


def test_snm_rank_never_single_partitions_the_corpus(spark, sf_dir, lazy_barriers):
    """q_snm_pairs: the global rank is the
    range-repartition + local window + broadcast offsets rewrite —
    the only single-partition window in the plan is the ≤32-row
    offsets frame, the offsets join is a broadcast, and neighbor
    pairs come from an equi-join on rank (no nested loop)."""
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.snm import q_snm_pairs

    df = q_snm_pairs(load_table(spark, sf_dir, "customer"))
    plan = plan_text(df)
    simple = plan_text(df, "simple")
    # the ranked subtree feeds BOTH join sides, so its ≤32-row offsets
    # window (the only single-partition stage) appears once per side
    # (the locally-ranked frame is cut, so the rank build itself —
    # pinned below on the lazy form — runs once)
    assert 1 <= plan.count("Arguments: SinglePartition") <= 2
    assert "BroadcastNestedLoopJoin" not in simple
    assert "CartesianProduct" not in simple
    # the rank build's shape, pinned on the un-truncated lazy form
    # (the rank cut left out — a cut truncates the plan at an RDD
    # scan): range partitioning, exactly one single-partition window
    # (the ≤32-row offsets frame), and a broadcast offsets join
    from node_js_etl_processor_spark.operators.snm import global_rank

    keyed = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.lower(F.trim(F.col("c_name"))).alias("k")
    )
    with lazy_barriers("snm.global_rank"):
        ranked = global_rank(keyed, ["k", "c_custkey"])
    rank_plan = plan_text(ranked)
    assert "rangepartitioning" in rank_plan  # the distributed rank
    assert rank_plan.count("Arguments: SinglePartition") == 1
    assert "BroadcastHashJoin" in plan_text(ranked, "simple")


def test_doc_novelty_single_hash_subtree_three_exchanges(spark, sf_dir):
    """q_doc_novelty: the corpus tokenize+md5 shingle subtree appears
    exactly ONCE (totals come off the token arrays, not a second hash pass),
    the keyed exchanges are the span family's h + doc_id trio (duplication
    window, doc-keyed sweep/aggs, totals agg), and no cartesian or
    single-partition stage exists anywhere."""
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.novelty import q_doc_novelty

    plan = plan_text(q_doc_novelty(load_table(spark, sf_dir, "documents")))
    assert plan.count("md5") == 1
    assert 1 <= plan.count("Arguments: hashpartitioning") <= 3
    assert "hashpartitioning(h" in plan
    assert "hashpartitioning(doc_id" in plan
    assert "SinglePartition" not in plan
    for join in ("CartesianProduct", "BroadcastNestedLoop"):
        assert join not in plan


def test_novelty_of_drop_broadcast_fallback_same_rows(spark, sf_dir):
    """novelty_of_drop:
    the drop's distinct-digest frame scales with drop TOKENS, not any
    vocabulary, so the store filter broadcasts only under
    ``broadcast_posting_cap`` and falls back to a shuffle semi-join
    above it. Pins (a) the default path still carries the explicit
    broadcast hint into the physical plan, (b) the hint is ABSENT
    from the fallback path's analyzed plan (cap=0 forces it), and
    (c) both paths return identical rows."""
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.novelty import novelty_of_drop
    from node_js_etl_processor_spark.operators.spans import shingle_positions

    docs = load_table(spark, sf_dir, "documents")
    drop = docs.filter("doc_id % 7 = 0")
    stored = shingle_positions(docs.filter("doc_id % 7 <> 0"))
    small = novelty_of_drop(drop, stored)
    big = novelty_of_drop(drop, stored, broadcast_posting_cap=0)
    assert "ResolvedHint" in plan_text(small, "extended")
    assert "ResolvedHint" not in plan_text(big, "extended")
    got_s = sorted(tuple(r) for r in small.collect())
    got_b = sorted(tuple(r) for r in big.collect())
    assert got_s == got_b and len(got_s) > 0


def test_cusum_alarms_single_keyed_exchange_no_joins(spark, sf_dir):
    """q_cusum_alarms: the prefix-sum/running-min
    identity rides ONE hashpartitioning(user_id) exchange — both
    windows share it — with no join of any kind and no global sort."""
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.cusum import q_cusum_alarms

    plan = plan_text(q_cusum_alarms(load_table(spark, sf_dir, "events")))
    assert plan.count("Arguments: hashpartitioning") == 1
    assert "hashpartitioning(user_id" in plan
    for join in ("Join", "CartesianProduct"):
        assert join not in plan
    assert "SinglePartition" not in plan


def test_robust_stats_one_exchange_mapside_combined(spark, sf_dir):
    """q_robust_stats: the doubled-order-statistic rewrite holds — ONE keyed
    exchange (not two), partial+final aggregation on both passes, zero
    joins, zero single-partition stages."""
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.robust import q_robust_stats

    plan = plan_text(q_robust_stats(load_table(spark, sf_dir, "orders")))
    assert plan.count("Arguments: hashpartitioning") == 1
    assert plan.count("HashAggregate") >= 4
    for join in ("Join", "CartesianProduct"):
        assert join not in plan
    assert "SinglePartition" not in plan


def test_ols_trend_one_exchange_integer_sufficient_stats(spark, sf_dir):
    """q_ols_trend: per-group regression as
    map-side-combined integer sufficient statistics — one keyed
    exchange, partial+final HashAggregate, no joins."""
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.trend import q_ols_trend

    plan = plan_text(q_ols_trend(load_table(spark, sf_dir, "orders")))
    assert plan.count("Arguments: hashpartitioning") == 1
    assert plan.count("HashAggregate") >= 4
    for join in ("Join", "CartesianProduct"):
        assert join not in plan
    assert "SinglePartition" not in plan


def test_simpson_diversity_two_aggregations_no_joins(spark, sf_dir):
    """q_simpson_diversity: exactly the two keyed
    map-side-combined aggregations the module docstring promises —
    (source, token) counts then the per-source vocabulary reduce —
    with no joins, no windows, no single-partition stages."""
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.diversity import (
        q_simpson_diversity,
    )

    plan = plan_text(
        q_simpson_diversity(load_table(spark, sf_dir, "documents"))
    )
    assert 1 <= plan.count("Arguments: hashpartitioning") <= 2
    assert plan.count("HashAggregate") >= 4
    for join in ("Join", "CartesianProduct"):
        assert join not in plan
    assert "SinglePartition" not in plan


def test_event_sequences_two_keyed_exchanges_no_joins(spark, sf_dir):
    """q_event_sequences: the per-user lead()
    window and the trigram support rollup are the only two keyed
    exchanges; the two-level aggregation (per-user occurrence counts
    feeding the vocabulary-sized rollup) keeps everything
    join-free."""
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.seqmine import (
        q_event_sequences,
    )

    plan = plan_text(q_event_sequences(load_table(spark, sf_dir, "events")))
    assert 1 <= plan.count("Arguments: hashpartitioning") <= 2
    assert "hashpartitioning(user_id" in plan
    for join in ("Join", "CartesianProduct"):
        assert join not in plan
    assert "SinglePartition" not in plan


def test_sax_symbols_per_series_exchanges_no_joins(spark, sf_dir):
    """q_sax_symbols: symbolization is per-series
    work — two user_id-keyed exchanges (the hourly bucket agg and the
    rank window), no joins, and no single-partition stage (the
    alphabet quantization is rank arithmetic, not a global sort)."""
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.sax import q_sax_symbols

    plan = plan_text(q_sax_symbols(load_table(spark, sf_dir, "events")))
    assert 1 <= plan.count("Arguments: hashpartitioning") <= 2
    assert "hashpartitioning(user_id" in plan
    for join in ("Join", "CartesianProduct"):
        assert join not in plan
    assert "SinglePartition" not in plan


def test_triangles_orientation_keeps_joins_equi(spark, sf_dir):
    """q_triangles: the degree-orientation bound
    only works if every join stays an EQUI join — no cartesian, no
    broadcast nested loop, no single-partition stage anywhere in the
    three-way closure."""
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.triangles import q_triangles

    plan = plan_text(q_triangles(load_table(spark, sf_dir, "lineitem")))
    for bad in ("CartesianProduct", "BroadcastNestedLoop"):
        assert bad not in plan
    assert "SinglePartition" not in plan


def test_bfs_hops_unrolled_equi_joins_only(spark, sf_dir, lazy_barriers):
    """q_bfs_hops: the k-hop
    recurrence (inspected with the per-hop cut left out) is all
    equi-joins on dst/domain — no cartesian, no nested loop, no
    single-partition stage; frontier dedup aggregations are
    partial+final. The DEFAULT path eagerly checkpoints each hop, so
    its final plan must carry NO join at all — every hop executed
    exactly once inside its checkpoint job (no
    union-of-layers re-evaluating earlier hops once per later layer,
    and for AQE flipping the frontier join strategy on unknown
    sizes)."""
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.graph import link_graph_edges
    from node_js_etl_processor_spark.operators.paths import (
        bfs_hops_over_edges,
        q_bfs_hops,
    )
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    edges = link_graph_edges(docs).select(
        F.col("src_domain").alias("src"), F.col("dst_domain").alias("dst")
    )
    with lazy_barriers("paths.bfs_hop"):
        lazy = bfs_hops_over_edges(edges)
    plan = plan_text(lazy)
    for bad in ("CartesianProduct", "BroadcastNestedLoop"):
        assert bad not in plan
    assert "SinglePartition" not in plan
    assert plan.count("HashAggregate") >= 4

    default_plan = plan_text(q_bfs_hops(docs))
    assert "Join" not in default_plan
    # and the two paths agree exactly
    got = sorted(tuple(r) for r in q_bfs_hops(docs).collect())
    want = sorted(tuple(r) for r in lazy.collect())
    assert got == want and got


def test_equidepth_hist_distributed_rank_no_single_partition(
    spark, sf_dir, lazy_barriers
):
    """q_equidepth_hist:
    the distributed grouped rank — rangepartitioning for the rank,
    broadcast joins for the per-(partition, group) offsets, and NO
    single-partition stage anywhere (the first cut's ntile-over-
    PARTITION BY form collapsed to 3 tasks; this pin keeps the
    rewrite honest)."""
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.histogram import (
        q_equidepth_hist,
    )

    # the rank build's shape, pinned on the un-truncated lazy form
    # (the ranked frame's cut left out — a cut truncates the plan at
    # an RDD scan)
    with lazy_barriers("histogram.q_equidepth_hist"):
        df = q_equidepth_hist(load_table(spark, sf_dir, "lineitem"))
    plan = plan_text(df)
    simple = plan_text(df, "simple")
    assert "rangepartitioning" in plan
    assert "SinglePartition" not in plan
    assert "BroadcastHashJoin" in simple
    for bad in ("SortMergeJoin", "CartesianProduct", "BroadcastNestedLoop"):
        assert bad not in simple
    # the default (cut) form keeps the same discipline
    plan_m = plan_text(q_equidepth_hist(load_table(spark, sf_dir, "lineitem")))
    assert "SinglePartition" not in plan_m
    for bad in ("CartesianProduct", "BroadcastNestedLoop"):
        assert bad not in plan_text(
            q_equidepth_hist(load_table(spark, sf_dir, "lineitem")), "simple"
        )


def test_gini_concentration_one_group_keyed_exchange(spark, sf_dir):
    """q_gini_concentration: one source-keyed exchange carries the in-group
    rank window and the aggregation — no joins, no single-partition
    stage."""
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.gini import (
        q_gini_concentration,
    )

    plan = plan_text(
        q_gini_concentration(load_table(spark, sf_dir, "documents"))
    )
    assert plan.count("Arguments: hashpartitioning") == 1
    assert "hashpartitioning(source" in plan
    for join in ("Join", "CartesianProduct"):
        assert join not in plan
    assert "SinglePartition" not in plan
