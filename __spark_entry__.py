"""Query registry of the PySpark engine, each query with a DuckDB twin.

``entry(spark)`` is a smoke query. Each ``queries()[name]`` is compared
with ``oracle_sql()[name]`` on row count, column names and an
order-insensitive value multiset, by ``tests/test_oracle_parity.py``
and ``scripts/full_verify.py``.

Every declared query maps to an operator documented in SURVEY.md §2;
implementations live in ``node_js_etl_processor_spark/operators/``.
All 147 queries carry a full DuckDB oracle — including the SRP-LSH /
IVF similarity family (deterministic hyperplane/centroid constants are
embedded as SQL literals, so the blocking is cross-checked, not just
the scores), the mapInPandas multimodal kernel (byte-deterministic
fake decode), and the minhash / simhash / clusters dedup
trio, declared in portable md5-derived hash forms the oracle rebuilds
bit-for-bit (universal-LCG minhash permutations, 64 simhash vote sums,
a recursive-CTE closure for components); xxhash64 variants remain as
the perf path.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from node_js_etl_processor_spark.catalog import load_table
from node_js_etl_processor_spark.functions.literals import double_digits
from node_js_etl_processor_spark.operators import (
    attribution,
    basket,
    bpe,
    colloc,
    cusum,
    dedup,
    diversity,
    gini,
    graph,
    heavy,
    histogram,
    intervals,
    kmv,
    novelty,
    paths,
    phash,
    relational,
    retrieval,
    rfm,
    robust,
    sax,
    seqmine,
    sessionize,
    setsim,
    similarity,
    skyline,
    sketch,
    snm,
    spans,
    temporal,
    text,
    trend,
    triangles,
)
from node_js_etl_processor_spark.operators.audio import (
    q_audio_adpcm,
    q_audio_g711,
    q_audio_probe,
)
from node_js_etl_processor_spark.operators.kmv import (
    kmv_oracle_cte as _kmv_oracle_cte,
)
from node_js_etl_processor_spark.operators.netpbm import q_netpbm_features
from node_js_etl_processor_spark.operators.flac import q_audio_flac
from node_js_etl_processor_spark.operators.image_probe import q_image_probe
from node_js_etl_processor_spark.operators.tiff import q_tiff_features
from node_js_etl_processor_spark.operators.multimodal import (
    q_audio_features,
    q_binary_meta,
    q_frame_sample,
    q_gif_frames,
    q_media_resize,
    q_multimodal_features,
    q_video_frames,
)

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1-shaped pricing summary) on sf0.001."""
    return relational.q_agg_pricing(load_table(spark, SMOKE_SF_DIR, "lineitem"))


def _q(table_names: list[str], fn) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return fn(*[load_table(spark, sf_dir, t) for t in table_names])

    return run


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The query registry: name -> ``(spark, sf_dir) -> DataFrame``.

    Every query has a DuckDB twin under the same name in
    ``oracle_sql()``. Both oracle-parity checkers run all of them:
    ``tests/test_oracle_parity.py`` at sf0.001 in the tuned test
    session, and ``scripts/full_verify.py`` at sf0.01 in a plain one."""
    return {
        "q_kl_divergence": _q(["documents"], text.q_kl_divergence),
        "q_retention": _q(["events"], temporal.q_retention),
        "q_funnel": _q(["events"], sessionize.q_funnel),
        "q_embedding_pool": _q(["embeddings"], similarity.q_embedding_pool),
        "q_lm_bigram_perplexity": _q(["documents"], text.q_lm_bigram_perplexity),
        "q_ivfpq_rescore": _q(["embeddings"], similarity.q_ivfpq_rescore),
        "q_html_extract": _q(["documents"], text.q_html_extract),
        "q_corpus_stats": _q(["documents"], text.q_corpus_stats),
        "q_semi_anti": _q(["customer", "orders"], relational.q_semi_anti),
        "q_rollup": _q(["orders"], relational.q_rollup),
        "q_window_topk": _q(["customer"], relational.q_window_topk),
        "q_sort_limit": _q(["orders"], relational.q_sort_limit),
        "q_region_supplier": _q(
            ["supplier", "nation", "region"], relational.q_region_supplier
        ),
        "q_pivot": _q(["orders"], relational.q_pivot),
        "q_shipping_priority": _q(
            ["customer", "orders", "lineitem"], relational.q_shipping_priority
        ),
        "q_percentiles": _q(["lineitem"], relational.q_percentiles),
        "q_sample_hash": _q(["orders"], relational.q_sample_hash),
        "q_hypertable_rollup": _q(["events"], temporal.q_hypertable_rollup),
        "q_approx_distinct": _q(["orders"], relational.q_approx_distinct),
        "q_repetition_rules": _q(["documents"], text.q_repetition_rules),
        "q_decontaminate": _q(["documents"], text.q_decontaminate),
        "q_source_mix": _q(["documents"], text.q_source_mix),
        "q_semdedup": _q(["embeddings"], similarity.q_semdedup),
        "q_c4_rules": _q(["documents"], text.q_c4_rules),
        "q_span_dedup": _q(["documents"], text.q_span_dedup),
        "q_quality_classifier": _q(["documents"], text.q_quality_classifier),
        "q_stratified_split": _q(["documents"], text.q_stratified_split),
        "q_kmeans_step": _q(["embeddings"], similarity.q_kmeans_step),
        "q_text_stats": _q(["documents"], text.q_text_stats),
        "q_image_probe": _q(["documents"], q_image_probe),
        "q_image_dedup": _q(["documents"], phash.q_image_dedup),
        "q_image_neardup": _q(["documents"], phash.q_image_neardup),
        "q_gif_frames": _q(["documents"], q_gif_frames),
        "q_video_frames": _q(["documents"], q_video_frames),
        "q_media_resize": _q(["documents"], q_media_resize),
        "q_frame_sample": _q(["documents"], q_frame_sample),
        "q_binary_meta": _q(["documents"], q_binary_meta),
        "q_multimodal_features": _q(["documents"], q_multimodal_features),
        "q_audio_features": _q(["documents"], q_audio_features),
        "q_audio_probe": _q(["documents"], q_audio_probe),
        "q_audio_g711": _q(["documents"], q_audio_g711),
        "q_audio_adpcm": _q(["documents"], q_audio_adpcm),
        "q_audio_flac": _q(["documents"], q_audio_flac),
        "q_netpbm_features": _q(["documents"], q_netpbm_features),
        "q_tiff_features": _q(["documents"], q_tiff_features),
        "q_interval_coverage": _q(["events"], intervals.q_interval_coverage),
        "q_skyline": _q(["part"], skyline.q_skyline),
        "q_equidepth_hist": _q(["lineitem"], histogram.q_equidepth_hist),
        "q_gini_concentration": _q(["documents"], gini.q_gini_concentration),
        "q_doc_novelty": _q(["documents"], novelty.q_doc_novelty),
        "q_asof_join": _q(["events"], temporal.q_asof_join),
        "q_sessionize": _q(["events"], sessionize.q_sessionize),
        "q_decontaminate_hashed": _q(["documents"], text.q_decontaminate_hashed),
        "q_similarity_topk": _q(["embeddings"], similarity.q_similarity_topk),
        "q_dedup_embedding": _q(["embeddings"], similarity.q_dedup_embedding),
        "q_similarity_ann": _q(["embeddings"], similarity.q_similarity_ann),
        "q_similarity_ivf": _q(["embeddings"], similarity.q_similarity_ivf),
        "q_chunk_documents": _q(["documents"], text.q_chunk_documents),
        "q_pack_chunks": _q(["documents"], text.q_pack_chunks),
        "q_chunk_pack_pipeline": _q(["documents"], text.q_chunk_pack_pipeline),
        "q_bm25": _q(["documents"], text.q_bm25),
        "q_dedup_minhash": _q(["documents"], dedup.q_dedup_minhash),
        "q_url_dedup": _q(["documents"], text.q_url_dedup),
        "q_semantic_decontaminate": _q(
            ["embeddings"], similarity.q_semantic_decontaminate
        ),
        "q_scd2": _q(["orders"], relational.q_scd2),
        "q_fuzzy_match": _q(["customer"], dedup.q_fuzzy_match),
        "q_tfidf": _q(["documents"], text.q_tfidf),
        "q_gap_fill": _q(["events"], temporal.q_gap_fill),
        "q_heavy_hitters": _q(["orders"], heavy.q_heavy_hitters),
        "q_heavy_hitters_skewed": _q(["orders"], heavy.q_heavy_hitters_skewed),
        "q_window_rank_funcs": _q(["customer"], relational.q_window_rank_funcs),
        "q_window_lag": _q(["events"], relational.q_window_lag),
        "q_null_safe_join": _q(["customer"], relational.q_null_safe_join),
        "q_argmax_agg": _q(["customer"], relational.q_argmax_agg),
        "q_semi_exists": _q(["customer", "orders"], relational.q_semi_exists),
        "q_grouping_sets": _q(["orders"], relational.q_grouping_sets),
        "q_set_ops": _q(["customer", "orders"], relational.q_set_ops),
        "q_cube": _q(["orders"], relational.q_cube),
        "q_scalar_math": _q(["lineitem"], relational.q_scalar_math),
        "q_string_funcs": _q(["part"], relational.q_string_funcs),
        "q_date_buckets": _q(["events"], relational.q_date_buckets),
        "q_json_props": _q(["events"], relational.q_json_props),
        "q_stats_agg": _q(["customer"], relational.q_stats_agg),
        "q_distinct_agg": _q(["orders"], relational.q_distinct_agg),
        "q_unpivot": _q(["orders"], relational.q_unpivot),
        "q_collect_agg": _q(["orders"], relational.q_collect_agg),
        "q_pagerank": _q(
            ["lineitem", "orders", "customer", "supplier"], graph.q_pagerank
        ),
        "q_snm_pairs": _q(["customer"], snm.q_snm_pairs),
        "q_span_extents": _q(["documents"], spans.q_span_extents),
        "q_triangles": _q(["lineitem"], triangles.q_triangles),
        "q_robust_stats": _q(["orders"], robust.q_robust_stats),
        "q_event_sequences": _q(["events"], seqmine.q_event_sequences),
        "q_rfm_segments": _q(["orders"], rfm.q_rfm_segments),
        "q_sax_symbols": _q(["events"], sax.q_sax_symbols),
        "q_cusum_alarms": _q(["events"], cusum.q_cusum_alarms),
        "q_ols_trend": _q(["orders"], trend.q_ols_trend),
        "q_simpson_diversity": _q(["documents"], diversity.q_simpson_diversity),
        "q_setsim_join": _q(["documents"], setsim.q_setsim_join),
        "q_containment_decon": _q(["documents"], setsim.q_containment_decon),
        "q_token_budget": _q(["documents"], bpe.q_token_budget),
        "q_text_langid": _q(["documents"], text.q_text_langid),
        "q_text_quality": _q(["documents"], text.q_text_quality),
        "q_token_count": _q(["documents"], text.q_token_count),
        "q_fingerprint": _q(["documents"], text.q_fingerprint),
        "q_winnow_fingerprint": _q(["documents"], text.q_winnow_fingerprint),
        "q_corpus_pipeline": _q(["documents"], text.q_corpus_pipeline),
        "q_dedup_docs": _q(["documents"], dedup.q_dedup_docs),
        "q_dedup_ngram": _q(["documents"], dedup.q_dedup_ngram),
        "q_redact_pii": _q(["documents"], text.q_redact_pii),
        "q_gopher_rules": _q(["documents"], text.q_gopher_rules),
        "q_lm_perplexity": _q(["documents"], text.q_lm_perplexity),
        "q_pq_encode": _q(["embeddings"], similarity.q_pq_encode),
        "q_pq_topk": _q(["embeddings"], similarity.q_pq_topk),
        "q_ivfpq_topk": _q(["embeddings"], similarity.q_ivfpq_topk),
        "q_weighted_sample": _q(["documents"], text.q_weighted_sample),
        "q_curation_pipeline": _q(["documents"], text.q_curation_pipeline),
        "q_dedup_clusters": _q(["documents"], dedup.q_dedup_clusters),
        "q_union_sources": _q(["customer"], relational.q_union_sources),
        "q_count_by_source": _q(["orders"], relational.q_count_by_source),
        "q_agg_pricing": _q(["lineitem"], relational.q_agg_pricing),
        "q_bpe_pairs": _q(
            ["documents"], lambda docs: bpe.bpe_top_pairs(docs, k=20)
        ),
        "q_link_graph": _q(["documents"], graph.q_link_graph),
        "q_hll_distinct": _q(["orders"], sketch.q_hll_distinct),
        "q_hdr_quantiles": _q(["lineitem"], sketch.q_hdr_quantiles),
        "q_hll_rollup": _q(["orders"], sketch.q_hll_rollup),
        "q_hll_intersect": _q(["orders"], sketch.q_hll_intersect),
        "q_filter_required": _q(["orders"], relational.q_filter_required),
        "q_clean_project": _q(["customer"], relational.q_clean_project),
        "q_array_transform": _q(["part"], relational.q_array_transform),
        "q_countmin": _q(["orders"], sketch.q_countmin),
        "q_bloom": _q(["orders"], sketch.q_bloom),
        "q_hll_timeline": _q(["events"], sketch.q_hll_timeline),
        "q_hybrid_search": _q(
            ["documents", "embeddings"], retrieval.q_hybrid_search
        ),
        "q_kmv_distinct": _q(["orders"], kmv.q_kmv_distinct),
        "q_kmv_difference": _q(["orders"], kmv.q_kmv_difference),
        "q_pmi_collocations": _q(["documents"], colloc.q_pmi_collocations),
        "q_attribution": _q(["events"], attribution.q_attribution),
        "q_itemset_pairs": _q(["lineitem"], basket.q_itemset_pairs),
        "q_csv_export_shape": _q(["customer"], relational.q_csv_export_shape),
        "q_dedup_upsert": _q(["orders"], relational.q_dedup_upsert),
        "q_range_join": _q(["events"], temporal.q_range_join),
        "q_window_range": _q(["events"], temporal.q_window_range),
        "q_scalar_subquery": _q(["orders", "customer"], relational.q_scalar_subquery),
        "q_explode_words": _q(["part"], relational.q_explode_words),
        "q_join_enrich": _q(["orders", "customer", "nation"], relational.q_join_enrich),
        "q_bfs_hops": _q(["documents"], paths.q_bfs_hops),
        "q_dedup_simhash": _q(["documents"], dedup.q_dedup_simhash),
    }


def _sql_arr(vec: list[float]) -> str:
    """Render a vector as a DuckDB DOUBLE[] literal, with the exact
    double digits the Spark side's SQL-text constants use."""
    return "[" + ",".join(double_digits(x) for x in vec) + "]"


def _srp_sig_sql(col: str) -> str:
    """SRP signature as SQL: same deterministic hyperplanes as
    similarity._srp_hyperplanes (pure splitmix64 constants — no RNG),
    so the LSH blocking itself is cross-checked, not just the scores."""
    from node_js_etl_processor_spark.operators.similarity import _srp_hyperplanes

    terms = [
        f"(CASE WHEN list_dot_product(CAST({col} AS DOUBLE[]), {_sql_arr(p)}) >= 0"
        f" THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(_srp_hyperplanes(8))
    ]
    return "(" + " + ".join(terms) + ")"


def _decon_bands_sql(col: str) -> str:
    """Banded signature list for the decontaminate oracle — band
    count derived through the SAME srp_band_count call as the engine
    (threshold 0.30, 2-plane bands, 95% target recall → 7 bands)."""
    from node_js_etl_processor_spark.operators.similarity import srp_band_count

    return _srp_banded_sql(col, srp_band_count(0.30, 2, 0.95), 2)


def _srp_banded_sql(col: str, n_bands: int, band_planes: int) -> str:
    """Banded SRP signatures as a SQL list expression — one short
    signature per disjoint ``band_planes``-plane slice, same plane
    constants and same bit order (plane i → 1<<i within its band) as
    similarity._banded_sigs, so the recall-first blocking is
    cross-checked band for band."""
    from node_js_etl_processor_spark.operators.similarity import _srp_hyperplanes

    planes = _srp_hyperplanes(n_bands * band_planes)
    sigs = []
    for k in range(n_bands):
        terms = [
            f"(CASE WHEN list_dot_product(CAST({col} AS DOUBLE[]),"
            f" {_sql_arr(planes[k * band_planes + i])}) >= 0"
            f" THEN {1 << i} ELSE 0 END)"
            for i in range(band_planes)
        ]
        sigs.append("(" + " + ".join(terms) + ")")
    return "[" + ",".join(sigs) + "]"


def _ivf_scores_sql(col: str) -> str:
    """Per-cell cosine scores against the deterministic IVF centroids
    as a SQL DOUBLE[] expression (mirrors similarity.ivf_assign)."""
    from node_js_etl_processor_spark.operators.similarity import _ivf_centroids

    return "[" + ",".join(
        f"list_dot_product(CAST({col} AS DOUBLE[]), {_sql_arr(c)})"
        f" / (sqrt(list_dot_product(CAST({col} AS DOUBLE[]), CAST({col} AS DOUBLE[]))) + 1e-12)"
        for c in _ivf_centroids(8)
    ) + "]"


def _pq_code_sql(col: str, s: int, codebooks=None) -> str:
    """PQ code of subspace ``s`` as SQL: distance list against the
    same codebook literals in the same argmin-equivalent form as
    similarity._pq_sub_dists (dot·(-2) + ||c||², first-min tie), so
    the encoding is cross-checked bit for bit. ``codebooks`` selects
    the quantizer (flat default; residual for the IVFADC oracle)."""
    from node_js_etl_processor_spark.operators.similarity import (
        PQ_SUB_DIM,
        _pq_codebooks,
    )

    cb = (codebooks if codebooks is not None else _pq_codebooks())[s]
    lo = s * PQ_SUB_DIM + 1
    sub = f"(CAST({col} AS DOUBLE[]))[{lo}:{lo + PQ_SUB_DIM - 1}]"
    dists = "[" + ",".join(
        f"(list_dot_product({sub}, {_sql_arr(c)}) * -2.0"
        f" + {float(sum(v * v for v in c))!r})"
        for c in cb
    ) + "]"
    return f"(list_position({dists}, list_min({dists})) - 1)"


def _pq_adc_sql(probe_col: str, s: int, codebooks=None) -> str:
    """ADC contribution of subspace ``s``: <probe_s, codebook[code_s]>
    — the codebook as a SQL list-of-lists literal indexed by the code
    (1-based), the probe sliced from the probe CTE row. The probe is
    NOT residualized in the IVFADC oracle — the residual decomposition
    moves the centroid term into _ivfpq_cell_const_sql instead,
    mirroring similarity.ivfpq_adc_topk."""
    from node_js_etl_processor_spark.operators.similarity import (
        PQ_SUB_DIM,
        _pq_codebooks,
    )

    cb = (codebooks if codebooks is not None else _pq_codebooks())[s]
    lo = s * PQ_SUB_DIM + 1
    p_sub = f"(CAST({probe_col} AS DOUBLE[]))[{lo}:{lo + PQ_SUB_DIM - 1}]"
    cb_lit = "[" + ",".join(_sql_arr(c) for c in cb) + "]"
    return f"list_dot_product({p_sub}, ({cb_lit})[c{s} + 1])"


def _ivf_cents_sql() -> str:
    """The 8 deterministic IVF centroids as one SQL list-of-lists
    literal (indexed by cell+1 for residual subtraction and the ADC
    cell constant)."""
    from node_js_etl_processor_spark.operators.similarity import _ivf_centroids

    return "[" + ",".join(_sql_arr(c) for c in _ivf_centroids(8)) + "]"


def _kmeans_step_sql() -> str:
    """One Lloyd iteration as SQL, mirroring similarity.kmeans_step
    term for term: quantized int64 per-dim sums (order-free), then an
    order-pinned left-associated float chain for the shift."""
    from node_js_etl_processor_spark.operators.similarity import (
        DIM,
        KMEANS_QUANT,
        _ivf_centroids,
    )

    q = f"{float(KMEANS_QUANT)!r}::DOUBLE"
    sum_cols = ",\n                     ".join(
        f"CAST(sum(CAST(floor(CAST(embedding[{d + 1}] AS DOUBLE) * {q}) AS BIGINT))"
        f" AS BIGINT) AS s{d}"
        for d in range(DIM)
    )
    cents = "[" + ",".join(_sql_arr(c) for c in _ivf_centroids(8)) + "]"
    sq = "0.0::DOUBLE"
    for d in range(DIM):
        term = (
            f"(CAST(s{d} AS DOUBLE) / (CAST(n_vectors AS DOUBLE) * {q})"
            f" - cents[cell + 1][{d + 1}])"
        )
        sq = f"({sq} + ({term} * {term}))"
    return f"""
            WITH assigned AS (
              SELECT vec_id, embedding,
                     list_position(s, list_aggregate(s, 'max')) - 1 AS cell
              FROM (SELECT *, {_ivf_scores_sql("embedding")} AS s FROM embeddings)
            ),
            agg AS (
              SELECT cell, count(*) AS n_vectors,
                     {sum_cols}
              FROM assigned GROUP BY cell
            ),
            c AS (SELECT {cents} AS cents)
            SELECT cell, n_vectors, round(sqrt({sq}), 6) AS shift
            FROM agg, c
            ORDER BY cell
        """


def _minhash_cands_cte() -> str:
    """Portable MinHash-LSH candidate pairs as a CTE chain (mirrors
    dedup.minhash_candidates(portable=True): 31-bit md5-derived
    hash-once shingle hashes, 32 universal-LCG per-seed minima, 8 md5
    band buckets, bucket equi-join; the (a,b) constants come from the
    same minhash_lcg_consts the Spark side embeds). Ends with
    shing(doc_id, sh) and cands(doc_a, doc_b)."""
    from node_js_etl_processor_spark.operators.dedup import P31, minhash_lcg_consts

    seed_rows = ", ".join(
        f"({s}, {a}::BIGINT, {b}::BIGINT)"
        for s, (a, b) in enumerate(minhash_lcg_consts(32))
    )
    return rf"""
            toked AS (
              SELECT doc_id,
                     list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS toks
              FROM documents
            ),
            shing AS (
              SELECT doc_id,
                     list_distinct(list_transform(
                       range(0, greatest(len(toks) - 3, 0) + 1),
                       i -> array_to_string(toks[i+1:i+3], ' '))) AS sh
              FROM toked WHERE len(toks) > 0
            ),
            hs AS (
              SELECT doc_id,
                     list_transform(sh, s ->
                       ('0x' || substr(md5(s), 9, 8))::BIGINT & 2147483647) AS hs
              FROM shing
            ),
            seeds(seed, a, b) AS (VALUES {seed_rows}),
            minh AS (
              SELECT u.doc_id, t.seed AS seed,
                     min((t.a * u.h + t.b) % {P31}) AS mh
              FROM (SELECT doc_id, unnest(hs) AS h FROM hs) u
              CROSS JOIN seeds t
              GROUP BY u.doc_id, t.seed
            ),
            sig AS (
              SELECT doc_id, list(mh ORDER BY seed) AS ms FROM minh GROUP BY doc_id
            ),
            buckets AS (
              SELECT doc_id, b.band AS band,
                     md5(array_to_string(ms[b.band*4+1 : b.band*4+4], ',')) AS bucket
              FROM sig CROSS JOIN (SELECT range AS band FROM range(8)) b
            ),
            cands AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM buckets a JOIN buckets b
                ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
            )"""


def _simhash_sigs_cte() -> str:
    """Portable SimHash signatures as a CTE chain (mirrors
    dedup.simhash_signatures_numpy(portable=True, drop_tokenless=True):
    per-distinct-token md5-derived 64-bit hash, 64 bit-vote sums,
    signature assembled as UBIGINT). Ends with sigs(doc_id, sig)."""
    votes = ",\n                     ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(64)
    )
    sig = "\n                     + ".join(
        f"CASE WHEN v{i} > 0 THEN {1 << i}::UBIGINT ELSE 0::UBIGINT END"
        for i in range(64)
    )
    return rf"""
            toked AS (
              SELECT doc_id,
                     list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS toks
              FROM documents
            ),
            th AS (
              SELECT DISTINCT u.doc_id, ('0x' || substr(md5(u.tok), 1, 16))::UBIGINT AS h
              FROM (SELECT doc_id, unnest(toks) AS tok
                    FROM toked WHERE len(toks) > 0) u
            ),
            votes AS (
              SELECT doc_id,
                     {votes}
              FROM th GROUP BY doc_id
            ),
            sigs AS (
              SELECT doc_id,
                     ({sig}) AS sig
              FROM votes
            )"""


# -- oracles that tests/test_extensions.py also imports, so every
# compare runs against the SAME SQL text --

BPE_PAIRS_ORACLE = """
WITH words AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
  FROM (
    SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                              x -> x <> '')) AS word
    FROM documents
  )
  GROUP BY word
),
expanded AS (
  SELECT freq,
         substr(word, i, 1) AS a,
         CASE WHEN i < length(word) THEN substr(word, i + 1, 1)
              ELSE '</w>' END AS b
  FROM words, unnest(generate_series(1, length(word))) AS t(i)
)
SELECT a, b, CAST(SUM(freq) AS BIGINT) AS pair_freq
FROM expanded GROUP BY a, b
ORDER BY pair_freq DESC, a ASC, b ASC LIMIT 20
"""

GIF_FRAMES_ORACLE = """
WITH ids AS (SELECT doc_id AS media_id FROM documents),
geo AS (
  SELECT media_id,
         4 + media_id % 5 AS w,
         3 + media_id % 4 AS h,
         1 + media_id % 3 AS nf
  FROM ids WHERE media_id % 11 <> 0
),
frames AS (
  SELECT media_id, w, h, nf, CAST(f AS BIGINT) AS f
  FROM geo, unnest(generate_series(0, nf - 1)) AS t(f)
  WHERE f % 2 = 0
)
SELECT media_id, 'true' AS ok, f AS frame_no,
       CAST(nf AS BIGINT) AS n_frames,
       CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
       CAST(2 * f AS BIGINT) AS delay_cs,
       md5(repeat(printf('%02x%02x%02x',
                         (media_id * 37 + f * 11) % 256,
                         (media_id * 53 + f * 29) % 256,
                         (media_id * 71 + f * 13) % 256),
                  CAST(w * h AS INT))) AS frame_md5
FROM frames
UNION ALL
SELECT media_id, 'false', NULL, NULL, NULL, NULL, NULL, NULL
FROM ids WHERE media_id % 11 = 0
"""

LINK_GRAPH_ORACLE = """
WITH pages AS (
  SELECT doc_id,
         'd' || CAST(doc_id % 20 AS VARCHAR) || '.example' AS src_domain,
         '<html><body>'
         || '<a href="https://d' || CAST((doc_id * 3) % 20 AS VARCHAR)
           || '.example/p' || CAST(doc_id % 7 AS VARCHAR) || '">l</a>'
         || '<a href="https://d' || CAST((doc_id * 7) % 20 AS VARCHAR)
           || '.example/p' || CAST(doc_id % 7 AS VARCHAR) || '">l</a>'
         || '<a href="https://d' || CAST((doc_id * 11) % 20 AS VARCHAR)
           || '.example/p' || CAST(doc_id % 7 AS VARCHAR) || '">l</a>'
         || '<p>' || replace(replace(replace(text, '&', '&amp;'),
                                     '<', '&lt;'), '>', '&gt;')
         || '</p></body></html>' AS html
  FROM documents
),
links AS (
  SELECT src_domain,
         unnest(regexp_extract_all(html, '<a href="([^"]+)">', 1)) AS url
  FROM pages
),
edges AS (
  SELECT src_domain,
         regexp_extract(url, '^https?://([^/]+)', 1) AS dst_domain
  FROM links
)
SELECT src_domain, dst_domain, CAST(COUNT(*) AS BIGINT) AS n_links
FROM edges WHERE src_domain <> dst_domain
GROUP BY src_domain, dst_domain
"""


# -- more oracles shared with tests/test_extensions.py (every compare
# runs against the SAME SQL text) --


def _token_budget_oracle(n_merges: int = 8) -> str:
    """Generated DuckDB oracle for q_token_budget: replays the FULL
    BPE training unroll step by step. Each word is a delimited symbol
    string (chr(31) sym chr(30) — both delimiters can't appear in
    \\s+-split words), so one merge is a plain non-overlapping
    leftmost replace() — exactly the Sennrich reference's regex
    semantics and exactly bpe_apply_merge's fold. Per step: pair
    counts off the split symbol list, the (pf DESC, a, b) argmax, a
    guarded replace (pf < 2 keeps the string — bpe_train's
    min_pair_freq stop, self-consistent for all later steps). Real
    per-doc token counts then come from the TRAINED segmentation
    (count of chr(31) per word), which equals bpe_encode's inference
    segmentation by the train==inference property pinned in
    tests/test_extensions.py."""
    d1, d2 = "chr(31)", "chr(30)"
    steps = []
    for k in range(n_merges):
        steps.append(f"""
p{k} AS (
  SELECT a, b, CAST(SUM(freq) AS BIGINT) AS pf FROM (
    SELECT freq, l[i] AS a, l[i + 1] AS b
    FROM (SELECT freq,
                 string_split(substr(s, 2, length(s) - 2), {d2} || {d1}) AS l
          FROM v{k}),
         unnest(generate_series(1, len(l) - 1)) AS t(i)
  ) GROUP BY a, b
),
b{k} AS MATERIALIZED (
  SELECT a, b, pf FROM p{k} ORDER BY pf DESC, a ASC, b ASC LIMIT 1
),
v{k + 1} AS MATERIALIZED (
  SELECT word, freq,
         CASE WHEN (SELECT pf FROM b{k}) >= 2
              THEN replace(s,
                           {d1} || (SELECT a FROM b{k}) || {d2} ||
                           {d1} || (SELECT b FROM b{k}) || {d2},
                           {d1} || (SELECT a FROM b{k}) ||
                                   (SELECT b FROM b{k}) || {d2})
              ELSE s END AS s
  FROM v{k}
)""")
    return f"""
WITH words AS MATERIALIZED (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
  FROM (
    SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                              x -> x <> '')) AS word
    FROM documents
  )
  GROUP BY word
),
v0 AS MATERIALIZED (
  SELECT word, freq,
         regexp_replace(word, '(.)', {d1} || '\\1' || {d2}, 'g')
           || {d1} || '</w>' || {d2} AS s
  FROM words
),{",".join(steps)},
wordtoks AS (
  SELECT word,
         CAST(length(s) - length(replace(s, {d1}, '')) AS BIGINT) AS wt
  FROM v{n_merges}
),
doc_words AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                            x -> x <> '')) AS word
  FROM documents
),
doc_tok AS (
  SELECT dw.doc_id, SUM(wt.wt) AS real_toks
  FROM doc_words dw JOIN wordtoks wt USING (word)
  GROUP BY dw.doc_id
),
per_doc AS (
  SELECT d.source,
         COALESCE(dt.real_toks, 0) AS real_toks,
         CAST(floor((length(d.text) + 3) / 4) AS BIGINT) AS est
  FROM documents d LEFT JOIN doc_tok dt USING (doc_id)
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(real_toks) AS BIGINT) AS bpe_tokens,
       CAST(SUM(est) AS BIGINT) AS est_tokens,
       CAST(SUM(ABS(real_toks - est)) AS BIGINT) AS abs_err,
       CAST(MAX(ABS(real_toks - est)) AS BIGINT) AS max_err
FROM per_doc GROUP BY source
"""


TOKEN_BUDGET_ORACLE = _token_budget_oracle()

VIDEO_FRAMES_ORACLE = """
WITH ids AS (SELECT doc_id AS media_id FROM documents),
geo AS (
  SELECT media_id,
         6 + media_id % 7 AS w,
         5 + media_id % 5 AS h,
         1 + media_id % 4 AS nf,
         CAST(floor(1000000 / (4 + media_id % 4)) AS BIGINT) AS upf
  FROM ids WHERE media_id % 13 <> 0
),
frames AS (
  SELECT media_id, w, h, nf, upf, CAST(f AS BIGINT) AS f
  FROM geo, unnest(generate_series(0, nf - 1)) AS t(f)
  WHERE f % 2 = 0
)
SELECT media_id, 'true' AS ok, f AS frame_no,
       CAST(nf AS BIGINT) AS n_frames,
       CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
       upf AS usec_per_frame,
       md5(repeat(printf('%02x%02x%02x',
                         (media_id * 37 + f * 29) % 256,
                         (media_id * 37 + f * 29) % 256,
                         (media_id * 37 + f * 29) % 256),
                  CAST(w * h AS INT))) AS frame_md5
FROM frames
UNION ALL
SELECT media_id, 'false', NULL, NULL, NULL, NULL, NULL, NULL
FROM ids WHERE media_id % 13 = 0
"""


# -- more oracles shared with tests/test_extensions.py (every compare
# runs against the SAME SQL) --


G711_ORACLE = """
WITH base AS (
  SELECT doc_id AS media_id,
         1000 + (doc_id % 20) * 500 AS amp,
         2 + doc_id % 7 AS period,
         400 + (doc_id % 5) * 80 AS n,
         doc_id % 2 = 0 AS is_mu
  FROM documents WHERE doc_id % 11 <> 0
),
-- companded-domain magnitudes (published G.711 front-end arithmetic,
-- including the asymmetric negative branches: mu-law negates AFTER an
-- arithmetic >>2 (a ceil on the magnitude), A-law's negative branch
-- is -pcm-1)
comp AS (
  SELECT media_id, period, n, is_mu,
         least(amp // 4, 8159) + 33 AS v_pos,
         least((amp + 3) // 4, 8159) + 33 AS v_neg,
         amp // 8 AS p_pos,
         (amp + 7) // 8 - 1 AS p_neg
  FROM base
),
-- mu-law: seg = floor(log2(v)) - 5, mant = (v >> (seg+1)) & 15,
-- decode = ((mant*8 + 132) << seg) - 132
mudec AS (
  SELECT media_id,
         ((((v_pos >> (CAST(floor(log2(v_pos)) AS BIGINT) - 5 + 1)) & 15) * 8 + 132)
            << (CAST(floor(log2(v_pos)) AS BIGINT) - 5)) - 132 AS dpos,
         ((((v_neg >> (CAST(floor(log2(v_neg)) AS BIGINT) - 5 + 1)) & 15) * 8 + 132)
            << (CAST(floor(log2(v_neg)) AS BIGINT) - 5)) - 132 AS dneg_mag
  FROM comp WHERE is_mu
),
-- A-law: seg = max(floor(log2(p)) - 4, 0); mant shift is 1 for seg<2
-- else seg; decode t = mant*16 + (8 if seg=0 else 264), then << (seg-1)
-- for seg>=2
aseg AS (
  SELECT media_id,
         CASE WHEN p_pos < 32 THEN 0
              ELSE CAST(floor(log2(p_pos)) AS BIGINT) - 4 END AS seg_p,
         CASE WHEN p_neg < 32 THEN 0
              ELSE CAST(floor(log2(p_neg)) AS BIGINT) - 4 END AS seg_n,
         p_pos, p_neg
  FROM comp WHERE NOT is_mu
),
adec AS (
  SELECT media_id,
         CASE WHEN seg_p >= 2
              THEN (((p_pos >> seg_p) & 15) * 16 + 264) << (seg_p - 1)
              ELSE ((p_pos >> 1) & 15) * 16
                   + CASE WHEN seg_p = 0 THEN 8 ELSE 264 END
         END AS dpos,
         CASE WHEN seg_n >= 2
              THEN (((p_neg >> seg_n) & 15) * 16 + 264) << (seg_n - 1)
              ELSE ((p_neg >> 1) & 15) * 16
                   + CASE WHEN seg_n = 0 THEN 8 ELSE 264 END
         END AS dneg_mag
  FROM aseg
),
dec AS (
  SELECT * FROM mudec UNION ALL SELECT * FROM adec
),
stats AS (
  SELECT c.media_id, c.is_mu, c.n, d.dpos, d.dneg_mag,
         (c.n // (2 * c.period)) * c.period
           + least(c.n % (2 * c.period), c.period) AS n_pos
  FROM comp c JOIN dec d USING (media_id)
)
SELECT media_id, 'true' AS ok,
       CASE WHEN is_mu THEN 'mulaw' ELSE 'alaw' END AS law,
       CAST(8000 AS BIGINT) AS sample_rate,
       CAST(n AS BIGINT) AS n_samples,
       CAST(dpos AS BIGINT) AS peak_pos,
       CAST(-dneg_mag AS BIGINT) AS peak_neg,
       CAST(n_pos * dpos - (n - n_pos) * dneg_mag AS BIGINT) AS sum_samples,
       CAST(n_pos * dpos + (n - n_pos) * dneg_mag AS BIGINT) AS sum_abs
FROM stats
UNION ALL
SELECT doc_id, 'false', NULL, NULL, NULL, NULL, NULL, NULL, NULL
FROM documents WHERE doc_id % 11 = 0
"""

def _adpcm_oracle() -> str:
    """Generated DuckDB oracle for q_audio_adpcm: replays the IMA
    encoder/decoder state machine as a recursive CTE. Anchor = one
    row per 256-byte block (predictor = the block's first square-wave
    sample, step index 0 — exactly encode_wav_adpcm's block reset);
    each recursion step quantizes the next sample against the
    published 89-entry step table (list literal, so DuckDB executes
    the same constants) and carries (pred, idx) forward. The
    recursion depth is bounded by samples-per-block (505); block
    count by n <= 660. Aggregates over the emitted pred rows are the
    decoded-signal statistics the Spark side computes from payload
    bytes alone."""
    from node_js_etl_processor_spark.operators.audio import (
        ADPCM_INDEX,
        ADPCM_STEPS,
    )

    steps_lit = "[" + ",".join(map(str, ADPCM_STEPS)) + "]"
    itab_lit = "[" + ",".join(map(str, ADPCM_INDEX)) + "]"
    return f"""
WITH RECURSIVE base AS (
  SELECT doc_id AS media_id,
         600 + (doc_id % 25) * 400 AS amp,
         2 + doc_id % 6 AS period,
         300 + (doc_id % 4) * 120 AS n
  FROM documents WHERE doc_id % 11 <> 0
),
blocks AS (
  SELECT media_id, amp, period, n, b.b AS blk, b.b * 505 AS k0
  FROM base, (SELECT unnest(generate_series(0, 1)) AS b) b
  WHERE b.b * 505 < n
),
st AS (
  SELECT media_id, amp, period, n, blk, k0 AS k,
         CASE WHEN ((k0 // period) % 2) = 0 THEN amp ELSE -amp END AS pred,
         0 AS idx
  FROM blocks
  UNION ALL
  SELECT media_id, amp, period, n, blk, k + 1,
         CASE WHEN sign
              THEN greatest(pred - vpdiff, -32768)
              ELSE least(pred + vpdiff, 32767) END,
         least(greatest(idx + ({itab_lit})[m + 1], 0), 88)
  FROM (
    SELECT *,
           step0 // 8
             + CASE WHEN b2 THEN step0 ELSE 0 END
             + CASE WHEN b1 THEN step0 // 2 ELSE 0 END
             + CASE WHEN b0 THEN step0 // 4 ELSE 0 END AS vpdiff,
           CASE WHEN b2 THEN 4 ELSE 0 END
             + CASE WHEN b1 THEN 2 ELSE 0 END
             + CASE WHEN b0 THEN 1 ELSE 0 END AS m
    FROM (
      SELECT *, d2 >= step0 // 4 AS b0
      FROM (
        SELECT *, d1 >= step0 // 2 AS b1,
               d1 - CASE WHEN d1 >= step0 // 2 THEN step0 // 2 ELSE 0 END AS d2
        FROM (
          SELECT *, d >= step0 AS b2,
                 d - CASE WHEN d >= step0 THEN step0 ELSE 0 END AS d1
          FROM (
            SELECT *, x - pred < 0 AS sign, abs(x - pred) AS d
            FROM (
              SELECT media_id, amp, period, n, blk, k, pred, idx,
                     CASE WHEN (((k + 1) // period) % 2) = 0
                          THEN amp ELSE -amp END AS x,
                     ({steps_lit})[idx + 1] AS step0
              FROM st WHERE k + 1 < least(n, (blk + 1) * 505)
            )
          )
        )
      )
    )
  )
)
SELECT media_id, 'true' AS ok,
       CAST(8000 AS BIGINT) AS sample_rate,
       CAST(MAX(n) AS BIGINT) AS n_samples,
       CAST(SUM(pred) AS BIGINT) AS sum_decoded,
       CAST(MAX(pred) AS BIGINT) AS peak_pos,
       CAST(MIN(pred) AS BIGINT) AS peak_neg
FROM st GROUP BY media_id
UNION ALL
SELECT doc_id, 'false', NULL, NULL, NULL, NULL, NULL
FROM documents WHERE doc_id % 11 = 0
"""


ADPCM_ORACLE = _adpcm_oracle()

# q_audio_flac: FLAC is LOSSLESS and the decoder verifies the
# STREAMINFO md5 per payload, so — unlike ADPCM's recursive-CTE state
# replay — the oracle just recomputes the square wave's statistics
# closed-form from doc_id (the G.711 oracle's shape minus the
# companding arithmetic). n_frames pins the 256-sample framing.
FLAC_ORACLE = """
WITH base AS (
  SELECT doc_id AS media_id,
         700 + (doc_id % 22) * 350 AS amp,
         2 + doc_id % 6 AS period,
         300 + (doc_id % 4) * 160 AS n,
         CASE WHEN doc_id % 2 = 0 THEN 8000 ELSE 16000 END AS rate
  FROM documents WHERE doc_id % 11 <> 0
),
stats AS (
  SELECT media_id, amp, n, rate,
         (n // (2 * period)) * period
           + least(n % (2 * period), period) AS n_pos
  FROM base
)
SELECT media_id, 'true' AS ok,
       CAST(rate AS BIGINT) AS sample_rate,
       CAST(n AS BIGINT) AS n_samples,
       CAST((n + 255) // 256 AS BIGINT) AS n_frames,
       CAST(amp AS BIGINT) AS peak_pos,
       CAST(-amp AS BIGINT) AS peak_neg,
       CAST((2 * n_pos - n) * amp AS BIGINT) AS sum_samples,
       CAST(n * amp AS BIGINT) AS sum_abs
FROM stats
UNION ALL
SELECT doc_id, 'false', NULL, NULL, NULL, NULL, NULL, NULL, NULL
FROM documents WHERE doc_id % 11 = 0
"""

# q_heavy_hitters: the Misra-Gries candidate path is an EXECUTION
# strategy with an exact-verify pass, so the oracle is the plain
# exact top-k — the sketch must be invisible in the result. The
# WHERE mirrors the engine's up-front key normalization (cast to
# long, drop nulls) so both branches AND the oracle see one key set.
HEAVY_HITTERS_ORACLE = """
SELECT CAST(o_custkey AS BIGINT) AS o_custkey,
       CAST(COUNT(*) AS BIGINT) AS cnt
FROM orders WHERE o_custkey IS NOT NULL
GROUP BY o_custkey
ORDER BY cnt DESC, o_custkey ASC LIMIT 10
"""

# q_heavy_hitters_skewed: the CERTIFIED Misra-Gries branch — the skewed key
# derivation is one closed-form CASE, and the oracle stays the plain exact
# top-k over it: whether the engine took the certified
# sketch→broadcast-recount path (it does on this derivation — asserted in
# tests via heavy_hitters_plan) or the exact fallback must be invisible in
# the result.
HEAVY_HITTERS_SKEWED_ORACLE = """
SELECT CAST(CASE WHEN o_orderkey % 4 <> 0 THEN o_orderkey % 16
            ELSE o_orderkey END AS BIGINT) AS key,
       CAST(COUNT(*) AS BIGINT) AS cnt
FROM orders WHERE o_orderkey IS NOT NULL
GROUP BY 1
ORDER BY cnt DESC, key ASC LIMIT 10
"""

# q_image_probe: the image dispatch table replayed closed-form — every
# container/flavor/geometry column is integer arithmetic in doc_id
# (the synth's lane selection and w/h moduli), and the WebP /
# progressive-JPEG lanes are the recognized-refusal rows (ok=false
# WITH the container named). Lane precedence matches the synth:
# %11==0 (webp) before %13==1 (progressive jpeg) before %8 formats.
IMAGE_PROBE_ORACLE = """
SELECT doc_id AS media_id,
  CASE WHEN doc_id % 11 = 0 OR doc_id % 13 = 1 THEN 'false'
       ELSE 'true' END AS ok,
  CASE WHEN doc_id % 11 = 0 THEN 'webp'
       WHEN doc_id % 13 = 1 THEN 'jpeg'
       WHEN doc_id % 8 IN (0, 1, 2) THEN 'netpbm'
       WHEN doc_id % 8 = 3 THEN 'bmp'
       WHEN doc_id % 8 = 4 THEN 'png'
       WHEN doc_id % 8 = 5 THEN 'gif'
       ELSE 'tiff' END AS container,
  CASE WHEN doc_id % 11 = 0 OR doc_id % 13 = 1 THEN NULL
       WHEN doc_id % 8 = 0 THEN 'P5'
       WHEN doc_id % 8 = 1 THEN 'P6'
       WHEN doc_id % 8 = 2 THEN 'P2'
       WHEN doc_id % 8 = 3 THEN 'bgr24'
       WHEN doc_id % 8 = 4 THEN 'rgb8'
       WHEN doc_id % 8 = 5 THEN '89a'
       WHEN doc_id % 8 = 6 THEN 'II'
       ELSE 'MM' END AS flavor,
  CASE WHEN doc_id % 11 = 0 OR doc_id % 13 = 1 THEN NULL
       ELSE CAST(6 + doc_id % 5 AS BIGINT) END AS width,
  CASE WHEN doc_id % 11 = 0 OR doc_id % 13 = 1 THEN NULL
       ELSE CAST(4 + doc_id % 4 AS BIGINT) END AS height,
  CASE WHEN doc_id % 11 = 0 OR doc_id % 13 = 1 THEN NULL
       WHEN doc_id % 8 IN (0, 2, 6) THEN CAST(1 AS BIGINT)
       ELSE CAST(3 AS BIGINT) END AS n_channels,
  CASE WHEN doc_id % 11 = 0 OR doc_id % 13 = 1 THEN NULL
       ELSE CAST(8 AS BIGINT) END AS bit_depth
FROM documents
ORDER BY media_id
"""

# q_setsim_join: the same exact-set collapse (md5 over sorted
# distinct tokens — both engines sort by raw UTF-8 byte order), then
# the BRUTE-FORCE replay — full token self-join over the
# representatives, no prefix filter, no positional filter, no length
# filter — so the engine's filtering completeness (the
# AllPairs/PPJoin lemmas) is cross-checked against an algorithm that
# never prunes. Token form = the q_tfidf parity tokenizer (lower,
# \s+ split, empties dropped), DISTINCT per doc; intersections count
# DISTINCT 60-bit md5-derived token digests (the engine's verify
# space — identical hash both sides, so any collision cancels);
# thresholds and outputs are all integers (19/20 as a rational), so
# the compare is exact with no float rounding.
SETSIM_ORACLE = r"""
WITH tok AS (
  SELECT DISTINCT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '\s+'),
                            t -> t <> '')) AS token
  FROM documents
),
sets AS (
  SELECT doc_id, md5(string_agg(token, chr(10) ORDER BY token)) AS set_key
  FROM tok GROUP BY doc_id
),
reps AS (
  SELECT set_key, MIN(doc_id) AS doc_id,
         CAST(COUNT(*) AS BIGINT) AS group_n
  FROM sets GROUP BY set_key
),
rtok AS (
  SELECT r.doc_id, r.group_n,
         CAST(('0x' || substring(md5(t.token), 1, 15)) AS BIGINT) AS h
  FROM tok t JOIN reps r ON t.doc_id = r.doc_id
),
sz AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS sz, MIN(group_n) AS group_n
  FROM rtok GROUP BY doc_id
),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(count(DISTINCT a.h) AS BIGINT) AS inter
  FROM rtok a JOIN rtok b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, inter,
       CAST(sa.sz + sb.sz - inter AS BIGINT) AS union_sz,
       sa.group_n AS group_a, sb.group_n AS group_b
FROM inter
JOIN sz sa ON sa.doc_id = doc_a
JOIN sz sb ON sb.doc_id = doc_b
WHERE 20 * inter >= 19 * (sa.sz + sb.sz - inter)
ORDER BY doc_a, doc_b
"""

# q_containment_decon: both sides collapse exactly as the engine
# does (md5 set digests, min-id representatives), then the probe ×
# train token join runs BRUTE-FORCE (no prefix filter) in the same
# 60-bit digest space and aggregates per probe — the asymmetric
# prefix lemma's completeness is cross-checked probe for probe.
# Clean probes emit with n_contaminated = 0 / first_hit NULL.
CONTAINMENT_ORACLE = r"""
WITH tok AS (
  SELECT DISTINCT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '\s+'),
                            t -> t <> '')) AS token
  FROM documents
),
ptok AS (SELECT * FROM tok WHERE doc_id % 10 = 0),
ttok AS (SELECT * FROM tok WHERE doc_id % 10 <> 0),
psets AS (
  SELECT doc_id, md5(string_agg(token, chr(10) ORDER BY token)) AS set_key
  FROM ptok GROUP BY doc_id
),
preps AS (
  SELECT set_key, MIN(doc_id) AS doc_id, CAST(COUNT(*) AS BIGINT) AS group_n
  FROM psets GROUP BY set_key
),
prtok AS (
  SELECT r.doc_id, r.group_n,
         CAST(('0x' || substring(md5(t.token), 1, 15)) AS BIGINT) AS h
  FROM ptok t JOIN preps r ON t.doc_id = r.doc_id
),
psz AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS sz, MIN(group_n) AS group_n
  FROM prtok GROUP BY doc_id
),
tsets AS (
  SELECT doc_id, md5(string_agg(token, chr(10) ORDER BY token)) AS set_key
  FROM ttok GROUP BY doc_id
),
treps AS (SELECT set_key, MIN(doc_id) AS doc_id FROM tsets GROUP BY set_key),
trtok AS (
  SELECT r.doc_id,
         CAST(('0x' || substring(md5(t.token), 1, 15)) AS BIGINT) AS h
  FROM ttok t JOIN treps r ON t.doc_id = r.doc_id
),
inter AS (
  SELECT a.doc_id AS probe_id, b.doc_id AS train_id,
         CAST(count(DISTINCT a.h) AS BIGINT) AS inter
  FROM prtok a JOIN trtok b ON a.h = b.h GROUP BY 1, 2
),
hits AS (
  SELECT probe_id, CAST(count(*) AS BIGINT) AS n_contaminated,
         CAST(MIN(i.train_id) AS BIGINT) AS first_hit
  FROM inter i JOIN psz ON psz.doc_id = i.probe_id
  WHERE 20 * inter >= 19 * psz.sz
  GROUP BY probe_id
)
SELECT p.doc_id AS probe_id, p.sz, p.group_n,
       CAST(COALESCE(h.n_contaminated, 0) AS BIGINT) AS n_contaminated,
       h.first_hit
FROM psz p LEFT JOIN hits h ON h.probe_id = p.doc_id
ORDER BY probe_id
"""

# q_image_dedup: recompute every dHash bit from the synth's sawtooth
# arithmetic — same nearest-neighbor sampling indices (source col
# 2x / row 2y for the 18×16 → 9×8 downscale), same horizontal
# comparison, same row-major MSB-first byte packing — then replay the
# perceptual grouping (count + min-keeper per 64-bit key). Brightness
# (c) and amplitude (amp) never appear: dHash compares neighbors, so
# the oracle's independence from them IS the invariance claim.
IMAGE_DEDUP_ORACLE = """
WITH base AS (
  SELECT doc_id, 1 + (doc_id // 3) % 23 AS a, (doc_id // 3) % 19 AS b,
         3 + (doc_id // 3) % 17 AS p
  FROM documents WHERE doc_id % 11 <> 0
),
-- member doc_id%3==2 inverts source pixel (16,14), which is sampled
-- only as the RIGHT operand of bit (7,7) — the planted Hamming-1
-- near miss (see synth_phash_media)
bits AS (
  SELECT base.doc_id, y.y AS y8, x.x AS x8,
         CASE WHEN
           (CASE WHEN (((a * (2*(x.x+1)) + b * (2*y.y)) % p) * 2 < p)
                      <> (doc_id % 3 = 2 AND x.x = 7 AND y.y = 7)
                 THEN 1 ELSE 0 END)
           >
           (CASE WHEN ((a * (2*x.x) + b * (2*y.y)) % p) * 2 < p
                 THEN 1 ELSE 0 END)
         THEN 1 ELSE 0 END AS bit
  FROM base, range(8) y(y), range(8) x(x)
),
rowbytes AS (
  SELECT doc_id, y8, CAST(sum(bit * (1 << (7 - x8))) AS INT) AS byte
  FROM bits GROUP BY doc_id, y8
),
hashes AS (
  SELECT doc_id, string_agg(printf('%02x', byte), '' ORDER BY y8) AS dhash
  FROM rowbytes GROUP BY doc_id
),
grouped AS (
  SELECT doc_id AS media_id, 'true' AS ok, dhash,
         CAST(COUNT(*) OVER (PARTITION BY dhash) AS BIGINT) AS n_same,
         CAST(MIN(doc_id) OVER (PARTITION BY dhash) AS BIGINT) AS keeper
  FROM hashes
)
SELECT media_id, ok, dhash, n_same, keeper,
       CASE WHEN media_id <> keeper THEN 'true' ELSE 'false' END AS is_dup
FROM grouped
UNION ALL
SELECT doc_id, 'false', NULL, NULL, NULL, NULL
FROM documents WHERE doc_id % 11 = 0
"""

# q_image_neardup: same closed-form hash replay, then the 4×16 band
# split, the band equi-join (complete for Hamming ≤ 3 by pigeonhole)
# and the exact popcount verify — the blocking's completeness is
# cross-checked against an engine that computes the same pairs.
IMAGE_NEARDUP_ORACLE = """
WITH base AS (
  SELECT doc_id, 1 + (doc_id // 3) % 23 AS a, (doc_id // 3) % 19 AS b,
         3 + (doc_id // 3) % 17 AS p
  FROM documents WHERE doc_id % 11 <> 0
),
bits AS (
  SELECT base.doc_id, y.y AS y8, x.x AS x8,
         CASE WHEN
           (CASE WHEN (((a * (2*(x.x+1)) + b * (2*y.y)) % p) * 2 < p)
                      <> (doc_id % 3 = 2 AND x.x = 7 AND y.y = 7)
                 THEN 1 ELSE 0 END)
           >
           (CASE WHEN ((a * (2*x.x) + b * (2*y.y)) % p) * 2 < p
                 THEN 1 ELSE 0 END)
         THEN 1 ELSE 0 END AS bit
  FROM base, range(8) y(y), range(8) x(x)
),
rowbytes AS (
  SELECT doc_id, y8, CAST(sum(bit * (1 << (7 - x8))) AS INT) AS byte
  FROM bits GROUP BY doc_id, y8
),
bands AS (
  SELECT doc_id, y8 // 2 AS band,
         CAST(sum(CASE WHEN y8 % 2 = 0 THEN byte * 256 ELSE byte END)
              AS BIGINT) AS val
  FROM rowbytes GROUP BY doc_id, y8 // 2
),
hashes4 AS (
  SELECT doc_id,
         max(CASE WHEN band = 0 THEN val END) AS h0,
         max(CASE WHEN band = 1 THEN val END) AS h1,
         max(CASE WHEN band = 2 THEN val END) AS h2,
         max(CASE WHEN band = 3 THEN val END) AS h3
  FROM bands GROUP BY doc_id
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id
)
SELECT id_a, id_b,
       CAST(bit_count(xor(xa.h0, xb.h0)) + bit_count(xor(xa.h1, xb.h1))
          + bit_count(xor(xa.h2, xb.h2)) + bit_count(xor(xa.h3, xb.h3))
          AS BIGINT) AS hamming
FROM cand
JOIN hashes4 xa ON xa.doc_id = id_a
JOIN hashes4 xb ON xb.doc_id = id_b
WHERE bit_count(xor(xa.h0, xb.h0)) + bit_count(xor(xa.h1, xb.h1))
    + bit_count(xor(xa.h2, xb.h2)) + bit_count(xor(xa.h3, xb.h3)) <= 3
"""

def _hll_oracle() -> str:
    """Generated DuckDB oracle for q_hll_distinct: replays the WHOLE
    sketch — the two-round multiply-xorshift hash (constants shared
    with sketch.hll_hash32), bucket/rank split, register MAX, scaled
    harmonic sum, and the exact-integer alpha correction (// on
    positive BIGINTs == Spark's DIV)."""
    from node_js_etl_processor_spark.operators.sketch import (
        _HLL_EST_NUM,
        HLL_LC_THRESHOLD,
        HLL_M,
        hll_lc_table,
    )

    lc_lit = "[" + ",".join(str(v) for v in hll_lc_table()) + "]"
    raw = f"{_HLL_EST_NUM} // (1000000 * e.harmonic_scaled)"
    n_zero = f"({HLL_M} - e.n_buckets_hit)"
    return f"""
WITH base AS (
  SELECT o_orderpriority, CAST(o_custkey AS BIGINT) & 4294967295 AS h0
  FROM orders
),
r1 AS (SELECT o_orderpriority,
              (xor(h0 >> 16, h0) * 73244475) % 4294967296 AS h1 FROM base),
r2 AS (SELECT o_orderpriority,
              (xor(h1 >> 16, h1) * 73244475) % 4294967296 AS h2 FROM r1),
hs AS (SELECT o_orderpriority, xor(h2 >> 16, h2) AS h FROM r2),
regs AS (
  SELECT o_orderpriority, h >> 23 AS bucket,
         MAX(CASE WHEN (h & 8388607) = 0 THEN 24
                  ELSE 23 - CAST(floor(log2(h & 8388607)) AS BIGINT)
             END) AS reg
  FROM hs GROUP BY o_orderpriority, bucket
),
summ AS (
  SELECT o_orderpriority,
         COUNT(*) AS n_buckets_hit,
         SUM(reg) AS sum_reg,
         MAX(reg) AS max_reg,
         SUM(CAST(1 AS BIGINT) << CAST(24 - reg AS INT)) AS harmonic_hit
  FROM regs GROUP BY o_orderpriority
),
est AS (
  SELECT o_orderpriority,
         CAST(n_buckets_hit AS BIGINT) AS n_buckets_hit,
         CAST(sum_reg AS BIGINT) AS sum_reg,
         CAST(max_reg AS BIGINT) AS max_reg,
         CAST(harmonic_hit
              + ({HLL_M} - n_buckets_hit) * 16777216 AS BIGINT)
           AS harmonic_scaled
  FROM summ
),
exact AS (
  SELECT o_orderpriority,
         CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_customers
  FROM orders GROUP BY o_orderpriority
)
SELECT e.o_orderpriority, x.exact_customers,
       CAST({HLL_M} AS BIGINT) AS m,
       e.n_buckets_hit, e.sum_reg, e.max_reg, e.harmonic_scaled,
       CAST(CASE WHEN {n_zero} > 0 AND ({raw}) <= {HLL_LC_THRESHOLD}
                 THEN ({lc_lit})[greatest({n_zero}, 1)]
                 ELSE ({raw}) END AS BIGINT) AS hll_customers
FROM est e JOIN exact x USING (o_orderpriority)
"""


HLL_ORACLE = _hll_oracle()

HDR_ORACLE = """
WITH cents AS (
  SELECT l_returnflag, CAST(round(l_extendedprice * 100) AS BIGINT) AS v
  FROM lineitem
),
idx AS (
  SELECT l_returnflag,
         CASE WHEN v < 64 THEN v
              ELSE ((CAST(floor(log2(v)) AS BIGINT) - 5) << 6)
                   + (v >> (CAST(floor(log2(v)) AS BIGINT) - 5)) END AS idx
  FROM cents
),
sk AS (
  SELECT l_returnflag, idx, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM idx GROUP BY l_returnflag, idx
),
en AS (
  SELECT l_returnflag, idx, cnt,
         CASE WHEN idx < 64 THEN idx
              ELSE (idx & 63) << (idx >> 6) END AS lb,
         SUM(cnt) OVER (PARTITION BY l_returnflag ORDER BY idx
                        ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(cnt) OVER (PARTITION BY l_returnflag) AS total
  FROM sk
)
SELECT l_returnflag,
       CAST(MAX(total) AS BIGINT) AS n_values,
       CAST(COUNT(*) AS BIGINT) AS n_buckets,
       CAST(MIN(CASE WHEN cum >= (1 * total + 1) // 2 THEN lb END)
            AS BIGINT) AS p50_lb,
       CAST(MIN(CASE WHEN cum >= (19 * total + 19) // 20 THEN lb END)
            AS BIGINT) AS p95_lb,
       CAST(MIN(CASE WHEN cum >= (99 * total + 99) // 100 THEN lb END)
            AS BIGINT) AS p99_lb
FROM en GROUP BY l_returnflag
"""


# -- more oracles that tests import as constants --


def _hll_rollup_oracle() -> str:
    """Generated DuckDB oracle for q_hll_rollup: the per-priority
    replay from HLL_ORACLE plus the SAME hash pipeline re-grouped
    under an 'ALL' label — which IS the cell-wise-MAX rollup of the
    per-priority registers, since MAX over a union equals MAX of
    MAXes (the law the query demonstrates)."""
    from node_js_etl_processor_spark.operators.sketch import (
        _HLL_EST_NUM,
        HLL_LC_THRESHOLD,
        HLL_M,
        hll_lc_table,
    )

    lc_lit = "[" + ",".join(str(v) for v in hll_lc_table()) + "]"
    raw = f"{_HLL_EST_NUM} // (1000000 * e.harmonic_scaled)"
    n_zero = f"({HLL_M} - e.n_buckets_hit)"
    return f"""
WITH src AS (
  SELECT o_orderpriority, o_custkey FROM orders
  UNION ALL
  SELECT 'ALL' AS o_orderpriority, o_custkey FROM orders
),
base AS (
  SELECT o_orderpriority, CAST(o_custkey AS BIGINT) & 4294967295 AS h0
  FROM src
),
r1 AS (SELECT o_orderpriority,
              (xor(h0 >> 16, h0) * 73244475) % 4294967296 AS h1 FROM base),
r2 AS (SELECT o_orderpriority,
              (xor(h1 >> 16, h1) * 73244475) % 4294967296 AS h2 FROM r1),
hs AS (SELECT o_orderpriority, xor(h2 >> 16, h2) AS h FROM r2),
regs AS (
  SELECT o_orderpriority, h >> 23 AS bucket,
         MAX(CASE WHEN (h & 8388607) = 0 THEN 24
                  ELSE 23 - CAST(floor(log2(h & 8388607)) AS BIGINT)
             END) AS reg
  FROM hs GROUP BY o_orderpriority, bucket
),
summ AS (
  SELECT o_orderpriority,
         COUNT(*) AS n_buckets_hit,
         SUM(reg) AS sum_reg,
         MAX(reg) AS max_reg,
         SUM(CAST(1 AS BIGINT) << CAST(24 - reg AS INT)) AS harmonic_hit
  FROM regs GROUP BY o_orderpriority
),
est AS (
  SELECT o_orderpriority,
         CAST(n_buckets_hit AS BIGINT) AS n_buckets_hit,
         CAST(sum_reg AS BIGINT) AS sum_reg,
         CAST(max_reg AS BIGINT) AS max_reg,
         CAST(harmonic_hit
              + ({HLL_M} - n_buckets_hit) * 16777216 AS BIGINT)
           AS harmonic_scaled
  FROM summ
),
exact AS (
  SELECT o_orderpriority,
         CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_customers
  FROM src GROUP BY o_orderpriority
)
SELECT e.o_orderpriority, x.exact_customers,
       CAST({HLL_M} AS BIGINT) AS m,
       e.n_buckets_hit, e.sum_reg, e.max_reg, e.harmonic_scaled,
       CAST(CASE WHEN {n_zero} > 0 AND ({raw}) <= {HLL_LC_THRESHOLD}
                 THEN ({lc_lit})[greatest({n_zero}, 1)]
                 ELSE ({raw}) END AS BIGINT) AS hll_customers
FROM est e JOIN exact x USING (o_orderpriority)
"""


HLL_ROLLUP_ORACLE = _hll_rollup_oracle()

def _hll_intersect_oracle() -> str:
    """Generated DuckDB oracle for q_hll_intersect: per-priority
    registers, per-pair union registers (union-all + MAX — the same
    no-rescan law the Spark side uses), the shared exact-integer
    estimator applied to all 15 entities, inclusion-exclusion, and
    the exact pair overlaps."""
    from node_js_etl_processor_spark.operators.sketch import (
        _HLL_EST_NUM,
        HLL_LC_THRESHOLD,
        HLL_M,
        hll_lc_table,
    )

    lc_lit = "[" + ",".join(str(v) for v in hll_lc_table()) + "]"
    raw = f"{_HLL_EST_NUM} // (1000000 * harmonic_scaled)"
    n_zero = f"({HLL_M} - n_buckets_hit)"
    return f"""
WITH base AS (
  SELECT o_orderpriority, CAST(o_custkey AS BIGINT) & 4294967295 AS h0
  FROM orders
),
r1 AS (SELECT o_orderpriority,
              (xor(h0 >> 16, h0) * 73244475) % 4294967296 AS h1 FROM base),
r2 AS (SELECT o_orderpriority,
              (xor(h1 >> 16, h1) * 73244475) % 4294967296 AS h2 FROM r1),
hs AS (SELECT o_orderpriority, xor(h2 >> 16, h2) AS h FROM r2),
regs AS (
  SELECT o_orderpriority, h >> 23 AS bucket,
         MAX(CASE WHEN (h & 8388607) = 0 THEN 24
                  ELSE 23 - CAST(floor(log2(h & 8388607)) AS BIGINT)
             END) AS reg
  FROM hs GROUP BY o_orderpriority, bucket
),
prs AS (
  SELECT DISTINCT a.o_orderpriority AS pa, b.o_orderpriority AS pb
  FROM regs a, regs b WHERE a.o_orderpriority < b.o_orderpriority
),
pair_regs AS (
  SELECT pa, pb, bucket, MAX(reg) AS reg FROM (
    SELECT p.pa, p.pb, r.bucket, r.reg
    FROM prs p JOIN regs r ON r.o_orderpriority = p.pa
    UNION ALL
    SELECT p.pa, p.pb, r.bucket, r.reg
    FROM prs p JOIN regs r ON r.o_orderpriority = p.pb
  ) GROUP BY pa, pb, bucket
),
ents AS (
  SELECT o_orderpriority AS ent, bucket, reg FROM regs
  UNION ALL
  SELECT pa || '|' || pb AS ent, bucket, reg FROM pair_regs
),
summ AS (
  SELECT ent, COUNT(*) AS n_buckets_hit,
         SUM(CAST(1 AS BIGINT) << CAST(24 - reg AS INT)) AS harmonic_hit
  FROM ents GROUP BY ent
),
est AS (
  SELECT ent,
         CAST(harmonic_hit + ({HLL_M} - n_buckets_hit) * 16777216 AS BIGINT)
           AS harmonic_scaled,
         n_buckets_hit
  FROM summ
),
estv AS (
  SELECT ent,
         CAST(CASE WHEN {n_zero} > 0 AND ({raw}) <= {HLL_LC_THRESHOLD}
                   THEN ({lc_lit})[greatest({n_zero}, 1)]
                   ELSE ({raw}) END AS BIGINT) AS hll
  FROM est
),
ov AS (
  SELECT x.o_orderpriority AS pa, y.o_orderpriority AS pb,
         CAST(COUNT(DISTINCT x.o_custkey) AS BIGINT) AS exact_overlap
  FROM (SELECT DISTINCT o_orderpriority, o_custkey FROM orders) x
  JOIN (SELECT DISTINCT o_orderpriority, o_custkey FROM orders) y
    USING (o_custkey)
  WHERE x.o_orderpriority < y.o_orderpriority
  GROUP BY 1, 2
)
SELECT p.pa AS pri_a, p.pb AS pri_b,
       CAST(COALESCE(o.exact_overlap, 0) AS BIGINT) AS exact_overlap,
       ea.hll AS hll_a, eb.hll AS hll_b, eu.hll AS hll_union,
       CAST(ea.hll + eb.hll - eu.hll AS BIGINT) AS hll_overlap
FROM prs p
JOIN estv ea ON ea.ent = p.pa
JOIN estv eb ON eb.ent = p.pb
JOIN estv eu ON eu.ent = p.pa || '|' || p.pb
LEFT JOIN ov o ON o.pa = p.pa AND o.pb = p.pb
"""


HLL_INTERSECT_ORACLE = _hll_intersect_oracle()


def _hll_timeline_oracle() -> str:
    """Generated DuckDB oracle for q_hll_timeline: the register
    pipeline applied to a day-labeled and a month-labeled copy of
    events. The oracle recomputes the month level FROM SCRATCH while
    the Spark side (operators/sketch.py:q_hll_timeline) folds the
    STORED day registers with MAX — equality between the two is the
    temporal rollup law, machine-checked by the oracle compare."""
    from node_js_etl_processor_spark.operators.sketch import (
        _HLL_EST_NUM,
        HLL_LC_THRESHOLD,
        HLL_M,
        hll_lc_table,
    )

    lc_lit = "[" + ",".join(str(v) for v in hll_lc_table()) + "]"
    raw = f"{_HLL_EST_NUM} // (1000000 * e.harmonic_scaled)"
    n_zero = f"({HLL_M} - e.n_buckets_hit)"
    return f"""
WITH src AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS period,
         'day' AS level, user_id
  FROM events
  UNION ALL
  SELECT strftime(date_trunc('day', ts), '%Y-%m'), 'month', user_id
  FROM events
),
base AS (
  SELECT period, level, CAST(user_id AS BIGINT) & 4294967295 AS h0 FROM src
),
r1 AS (SELECT period, level,
              (xor(h0 >> 16, h0) * 73244475) % 4294967296 AS h1 FROM base),
r2 AS (SELECT period, level,
              (xor(h1 >> 16, h1) * 73244475) % 4294967296 AS h2 FROM r1),
hs AS (SELECT period, level, xor(h2 >> 16, h2) AS h FROM r2),
regs AS (
  SELECT period, level, h >> 23 AS bucket,
         MAX(CASE WHEN (h & 8388607) = 0 THEN 24
                  ELSE 23 - CAST(floor(log2(h & 8388607)) AS BIGINT)
             END) AS reg
  FROM hs GROUP BY period, level, bucket
),
summ AS (
  SELECT period, level,
         COUNT(*) AS n_buckets_hit,
         SUM(reg) AS sum_reg,
         MAX(reg) AS max_reg,
         SUM(CAST(1 AS BIGINT) << CAST(24 - reg AS INT)) AS harmonic_hit
  FROM regs GROUP BY period, level
),
est AS (
  SELECT period, level,
         CAST(n_buckets_hit AS BIGINT) AS n_buckets_hit,
         CAST(sum_reg AS BIGINT) AS sum_reg,
         CAST(max_reg AS BIGINT) AS max_reg,
         CAST(harmonic_hit
              + ({HLL_M} - n_buckets_hit) * 16777216 AS BIGINT)
           AS harmonic_scaled
  FROM summ
),
exact AS (
  SELECT period, level,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users
  FROM src GROUP BY period, level
)
SELECT e.period, e.level, x.exact_users,
       CAST({HLL_M} AS BIGINT) AS m,
       e.n_buckets_hit, e.sum_reg, e.max_reg, e.harmonic_scaled,
       CAST(CASE WHEN {n_zero} > 0 AND ({raw}) <= {HLL_LC_THRESHOLD}
                 THEN ({lc_lit})[greatest({n_zero}, 1)]
                 ELSE ({raw}) END AS BIGINT) AS hll_users
FROM est e JOIN exact x USING (period, level)
"""


HLL_TIMELINE_ORACLE = _hll_timeline_oracle()

TIFF_ORACLE = """
WITH base AS (
  SELECT doc_id AS media_id,
         3 + doc_id % 6 AS w,
         2 + doc_id % 5 AS h,
         doc_id % 4 AS variant,
         (doc_id * 37) % 256 AS r,
         (doc_id * 53) % 256 AS g,
         (doc_id * 71) % 256 AS b,
         (doc_id * 29) % 256 AS gray
  FROM documents WHERE doc_id % 11 <> 0
)
SELECT media_id, 'true' AS ok,
       CASE WHEN variant IN (0, 2) THEN 'II' ELSE 'MM' END AS byte_order,
       CASE WHEN variant IN (0, 1) THEN 'rgb' ELSE 'gray' END AS fmt,
       CAST(w AS BIGINT) AS width,
       CAST(h AS BIGINT) AS height,
       CAST(CASE WHEN variant IN (0, 1) THEN 1
                 ELSE (h + 1) // 2 END AS BIGINT) AS n_strips,
       CAST(CASE WHEN variant IN (0, 1) THEN w * h * (r + g + b)
                 ELSE w * h * gray END AS BIGINT) AS px_sum,
       CASE WHEN variant IN (0, 1)
            THEN md5(repeat(printf('%02x%02x%02x', r, g, b),
                            CAST(w * h AS INT)))
            ELSE md5(repeat(printf('%02x', gray), CAST(w * h AS INT)))
       END AS raster_md5
FROM base
UNION ALL
SELECT doc_id, 'false', NULL, NULL, NULL, NULL, NULL, NULL, NULL
FROM documents WHERE doc_id % 11 = 0
"""

NETPBM_ORACLE = """
WITH base AS (
  SELECT doc_id AS media_id,
         3 + doc_id % 6 AS w,
         2 + doc_id % 5 AS h,
         doc_id % 4 AS variant,
         (doc_id * 37) % 256 AS r,
         (doc_id * 53) % 256 AS g,
         (doc_id * 71) % 256 AS b,
         (doc_id * 29) % 256 AS gray
  FROM documents WHERE doc_id % 11 <> 0
)
SELECT media_id, 'true' AS ok,
       CASE variant WHEN 0 THEN 'P6' WHEN 1 THEN 'P3'
                    WHEN 2 THEN 'P5' ELSE 'P2' END AS fmt,
       CAST(w AS BIGINT) AS width,
       CAST(h AS BIGINT) AS height,
       CAST(255 AS BIGINT) AS maxval,
       CAST(CASE WHEN variant IN (0, 1) THEN w * h * (r + g + b)
                 ELSE w * h * gray END AS BIGINT) AS px_sum,
       CASE WHEN variant IN (0, 1)
            THEN md5(repeat(printf('%02x%02x%02x', r, g, b),
                            CAST(w * h AS INT)))
            ELSE md5(repeat(printf('%02x', gray), CAST(w * h AS INT)))
       END AS raster_md5
FROM base
UNION ALL
SELECT doc_id, 'false', NULL, NULL, NULL, NULL, NULL, NULL
FROM documents WHERE doc_id % 11 = 0
"""

AUDIO_PROBE_ORACLE = """
WITH base AS (
  SELECT doc_id AS media_id,
         doc_id % 7 AS v,
         200 + (doc_id % 5) * 40 AS n,
         8000 * (1 + doc_id % 2) AS rate
  FROM documents WHERE doc_id % 11 <> 0
)
SELECT media_id, 'true' AS ok,
       CASE WHEN v <= 3 THEN 'wav' ELSE 'au' END AS container,
       CASE v WHEN 0 THEN 'pcm16' WHEN 1 THEN 'mulaw' WHEN 2 THEN 'alaw'
              WHEN 3 THEN 'ima-adpcm' WHEN 4 THEN 'mulaw'
              WHEN 5 THEN 'alaw' ELSE 'pcm16' END AS codec,
       CAST(rate AS BIGINT) AS sample_rate,
       CAST(1 AS BIGINT) AS n_channels,
       CAST(n AS BIGINT) AS n_samples
FROM base
UNION ALL
SELECT doc_id, 'false', 'flac', NULL, NULL, NULL, NULL
FROM documents WHERE doc_id % 11 = 0
"""


# q_kmv_distinct: the oracle rebuilds every sketch bit-for-bit — the
# 48-bit md5 hash space, per-group bottom-64 ranks, thetas, the
# integer (n·2^48 div theta) estimator, and BOTH theta-algebra rows
# (union / intersection clamped to min theta). All BIGINT arithmetic:
# no float tolerance anywhere (operators/kmv.py).
KMV_ORACLE = (
    "WITH "
    + _kmv_oracle_cte("c", "o_custkey")
    + ", "
    + _kmv_oracle_cte("p", "o_orderpriority")
    + """, thu AS (
      SELECT CAST(min(theta) AS BIGINT) AS theta FROM thc WHERE g IN ('F', 'O')
    ), uh AS (
      SELECT DISTINCT h FROM entc WHERE g IN ('F', 'O')
    ), un AS (
      SELECT CAST(count(*) AS BIGINT) AS n FROM uh, thu WHERE uh.h < thu.theta
    ), ix AS (
      SELECT CAST(count(*) AS BIGINT) AS n
      FROM entc a JOIN entc b ON a.h = b.h, thu
      WHERE a.g = 'F' AND b.g = 'O' AND a.h < thu.theta
    )
    SELECT 'cust:' || e.g AS set_name,
           CAST(count(*) AS BIGINT) AS n_entries,
           t.theta AS theta,
           CAST(count(*) AS BIGINT) * 281474976710656
             // greatest(t.theta, 1) AS est_distinct
    FROM entc e JOIN thc t USING (g) GROUP BY e.g, t.theta
    UNION ALL
    SELECT 'prio:' || e.g, CAST(count(*) AS BIGINT), t.theta,
           CAST(count(*) AS BIGINT) * 281474976710656 // greatest(t.theta, 1)
    FROM entp e JOIN thp t USING (g) GROUP BY e.g, t.theta
    UNION ALL
    SELECT 'cust:F|O', un.n, thu.theta,
           un.n * 281474976710656 // greatest(thu.theta, 1)
    FROM un, thu
    UNION ALL
    SELECT 'cust:F&O', ix.n, thu.theta,
           ix.n * 281474976710656 // greatest(thu.theta, 1)
    FROM ix, thu
"""
)

# q_interval_coverage: the oracle replays the sweep-line island scan
# with DuckDB's own window functions over identical integer epoch
# microseconds (operators/intervals.py).
INTERVAL_COVERAGE_ORACLE = """
    WITH iv AS (
      SELECT user_id, event_id, epoch_us(ts) AS s_us,
             epoch_us(ts) + CAST(round(value * 100) AS BIGINT) * 1000000 AS e_us
      FROM events
    ), fl AS (
      SELECT user_id, event_id, s_us, e_us,
             CASE WHEN max(e_us) OVER w IS NULL OR s_us > max(e_us) OVER w
                  THEN 1 ELSE 0 END AS opens
      FROM iv
      WINDOW w AS (PARTITION BY user_id ORDER BY s_us, e_us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ), isl AS (
      SELECT user_id, s_us, e_us,
             sum(opens) OVER (PARTITION BY user_id
                              ORDER BY s_us, e_us, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS island
      FROM fl
    )
    SELECT user_id,
           CAST(min(s_us) AS BIGINT) AS island_start_us,
           CAST(max(e_us) AS BIGINT) AS island_end_us,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(max(e_us) - min(s_us) AS BIGINT) AS span_us
    FROM isl GROUP BY user_id, island
"""

# q_skyline: BRUTE-FORCE dominance anti-join — deliberately NOT the
# engine's prune + running-max rewrite, so the rewrite itself is what
# the oracle checks (operators/skyline.py).
SKYLINE_ORACLE = """
    WITH pairs AS (
      SELECT CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents,
             CAST(p_size AS BIGINT) AS p_size,
             CAST(count(*) AS BIGINT) AS n_parts,
             CAST(min(p_partkey) AS BIGINT) AS min_partkey
      FROM part GROUP BY 1, 2
    )
    SELECT p.price_cents, p.p_size, p.n_parts, p.min_partkey
    FROM pairs p
    WHERE NOT EXISTS (
      SELECT 1 FROM pairs q
      WHERE q.price_cents <= p.price_cents AND q.p_size >= p.p_size
        AND (q.price_cents < p.price_cents OR q.p_size > p.p_size))
"""


def oracle_sql() -> dict[str, str]:
    from node_js_etl_processor_spark.operators.similarity import (
        _pq_residual_codebooks,
    )

    _RESID_CBS = _pq_residual_codebooks()
    fp = r"md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))"
    toks = r"list_filter(string_split_regex(text, '\s+'), t -> t <> '')"
    return {
        "q_bpe_pairs": BPE_PAIRS_ORACLE,
        "q_gif_frames": GIF_FRAMES_ORACLE,
        "q_link_graph": LINK_GRAPH_ORACLE,
        "q_token_budget": TOKEN_BUDGET_ORACLE,
        "q_video_frames": VIDEO_FRAMES_ORACLE,
        "q_audio_g711": G711_ORACLE,
        "q_audio_flac": FLAC_ORACLE,
        "q_heavy_hitters": HEAVY_HITTERS_ORACLE,
        "q_heavy_hitters_skewed": HEAVY_HITTERS_SKEWED_ORACLE,
        "q_image_probe": IMAGE_PROBE_ORACLE,
        "q_kmv_distinct": KMV_ORACLE,
        # From here on the DuckDB twins live next to their
        # engine functions (module constants interpolating the same
        # defaults the queries run with).
        "q_kmv_difference": kmv.KMV_DIFFERENCE_ORACLE,
        "q_snm_pairs": snm.SNM_PAIRS_ORACLE,
        "q_pmi_collocations": colloc.PMI_COLLOCATIONS_ORACLE,
        "q_attribution": attribution.ATTRIBUTION_ORACLE,
        "q_itemset_pairs": basket.ITEMSET_PAIRS_ORACLE,
        "q_span_extents": spans.SPAN_EXTENTS_ORACLE,
        "q_equidepth_hist": histogram.EQUIDEPTH_HIST_ORACLE,
        "q_gini_concentration": gini.GINI_CONCENTRATION_ORACLE,
        "q_doc_novelty": novelty.DOC_NOVELTY_ORACLE,
        "q_triangles": triangles.TRIANGLES_ORACLE,
        "q_robust_stats": robust.ROBUST_STATS_ORACLE,
        "q_event_sequences": seqmine.EVENT_SEQUENCES_ORACLE,
        "q_rfm_segments": rfm.RFM_SEGMENTS_ORACLE,
        "q_sax_symbols": sax.SAX_SYMBOLS_ORACLE,
        "q_cusum_alarms": cusum.CUSUM_ALARMS_ORACLE,
        "q_ols_trend": trend.OLS_TREND_ORACLE,
        "q_simpson_diversity": diversity.SIMPSON_DIVERSITY_ORACLE,
        "q_bfs_hops": paths.BFS_HOPS_ORACLE,
        "q_interval_coverage": INTERVAL_COVERAGE_ORACLE,
        "q_skyline": SKYLINE_ORACLE,
        "q_setsim_join": SETSIM_ORACLE,
        "q_containment_decon": CONTAINMENT_ORACLE,
        "q_image_dedup": IMAGE_DEDUP_ORACLE,
        "q_image_neardup": IMAGE_NEARDUP_ORACLE,
        "q_audio_adpcm": ADPCM_ORACLE,
        "q_hll_distinct": HLL_ORACLE,
        "q_hdr_quantiles": HDR_ORACLE,
        "q_hll_rollup": HLL_ROLLUP_ORACLE,
        "q_hll_intersect": HLL_INTERSECT_ORACLE,
        "q_netpbm_features": NETPBM_ORACLE,
        "q_audio_probe": AUDIO_PROBE_ORACLE,
        "q_hll_timeline": HLL_TIMELINE_ORACLE,
        "q_tiff_features": TIFF_ORACLE,
        "q_filter_required": """
            SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority
            FROM orders
            WHERE o_orderpriority IS NOT NULL AND o_orderpriority <> ''
              AND trim(o_orderpriority) <> ''
        """,
        "q_clean_project": """
            SELECT c_custkey AS custkey,
                   trim(CAST(c_name AS VARCHAR)) AS name,
                   CASE WHEN c_mktsegment IS NOT NULL AND c_mktsegment <> ''
                        THEN trim(CAST(c_mktsegment AS VARCHAR)) END AS segment
            FROM customer
        """,
        "q_array_transform": """
            WITH w AS (
              SELECT p_partkey,
                     list_transform(string_split(p_name, ' '),
                                    x -> upper(trim(x))) AS words
              FROM part
            )
            SELECT p_partkey AS partkey,
                   array_to_string(words, ',') AS words_csv,
                   words[1] AS primary_word,
                   CAST(len(words) AS BIGINT) AS n_words
            FROM w
        """,
        "q_csv_export_shape": """
            SELECT c_custkey AS custkey,
                   coalesce(CAST(c_name AS VARCHAR), '') AS name,
                   coalesce(CAST(c_mktsegment AS VARCHAR), '') AS segment,
                   coalesce(printf('%.2f', c_acctbal), '') AS acctbal_str
            FROM customer
        """,
        "q_union_sources": """
            SELECT c_custkey, c_name, c_nationkey, 'src_1' AS src
            FROM customer WHERE c_nationkey = 1
            UNION ALL
            SELECT c_custkey, c_name, c_nationkey, 'src_7' AS src
            FROM customer WHERE c_nationkey = 7
            UNION ALL
            SELECT c_custkey, c_name, c_nationkey, 'src_13' AS src
            FROM customer WHERE c_nationkey = 13
        """,
        "q_count_by_source": """
            SELECT o_orderstatus, count(*) AS n FROM orders GROUP BY o_orderstatus
        """,
        "q_join_enrich": """
            SELECT o_orderkey AS orderkey,
                   c_name AS customer_name,
                   n_name AS nation_name,
                   o_totalprice AS totalprice
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
        """,
        "q_semi_anti": """
            SELECT c_custkey, c_name, c_mktsegment
            FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_custkey = c.c_custkey
                                AND o.o_orderstatus = 'P')
        """,
        "q_agg_pricing": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
                   round(avg(l_quantity), 6) AS avg_qty,
                   round(avg(l_extendedprice), 6) AS avg_price,
                   round(avg(l_discount), 6) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "q_rollup": """
            SELECT o_orderstatus, o_orderpriority,
                   round(sum(o_totalprice), 2) AS sum_price,
                   count(*) AS n
            FROM orders
            GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        """,
        "q_window_topk": """
            SELECT c_mktsegment, c_custkey, c_name, c_acctbal,
                   CAST(rank AS BIGINT) AS rank
            FROM (
              SELECT c_mktsegment, c_custkey, c_name, c_acctbal,
                     row_number() OVER (PARTITION BY c_mktsegment
                                        ORDER BY c_acctbal DESC, c_custkey ASC) AS rank
              FROM customer
            )
            WHERE rank <= 3
        """,
        "q_sort_limit": """
            SELECT o_orderkey, o_custkey, o_totalprice
            FROM orders
            ORDER BY o_totalprice DESC, o_orderkey ASC
            LIMIT 10
        """,
        "q_dedup_upsert": """
            SELECT o_custkey, o_orderkey,
                   strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
                   o_totalprice
            FROM (
              SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
                     row_number() OVER (PARTITION BY o_custkey
                                        ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
              FROM orders
            )
            WHERE rn = 1
        """,
        "q_region_supplier": """
            SELECT r_name AS region_name,
                   count(*) AS n_suppliers,
                   round(avg(s_acctbal), 4) AS avg_acctbal
            FROM supplier
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name
        """,
        "q_stats_agg": """
            SELECT c_mktsegment,
                   count(*) AS n,
                   round(stddev_samp(c_acctbal), 4) AS sd_acctbal,
                   round(quantile_cont(c_acctbal, 0.5), 4) AS median_acctbal,
                   round(min(c_acctbal), 2) AS min_acctbal,
                   round(max(c_acctbal), 2) AS max_acctbal
            FROM customer
            GROUP BY c_mktsegment
        """,
        "q_pivot": """
            SELECT o_orderpriority,
                   count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
                   count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
                   count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
            FROM orders
            GROUP BY o_orderpriority
        """,
        "q_semi_exists": """
            SELECT c_custkey, c_name, c_nationkey
            FROM customer c
            WHERE EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderpriority = '1-URGENT')
        """,
        "q_set_ops": """
            SELECT 'intersect' AS op, custkey FROM (
              SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
              INTERSECT
              SELECT o_custkey FROM orders WHERE o_totalprice > 300000
            )
            UNION ALL
            SELECT 'except' AS op, custkey FROM (
              SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
              EXCEPT
              SELECT o_custkey FROM orders WHERE o_totalprice > 300000
            )
        """,
        "q_cube": """
            SELECT o_orderstatus, o_orderpriority,
                   count(*) AS n,
                   round(avg(o_totalprice), 4) AS avg_price
            FROM orders
            GROUP BY CUBE (o_orderstatus, o_orderpriority)
        """,
        "q_window_lag": """
            SELECT event_id, user_id,
                   round(value - lag(value) OVER w, 2) AS delta_prev,
                   round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                          ROWS UNBOUNDED PRECEDING), 2) AS running_sum
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        """,
        "q_scalar_math": """
            WITH s AS (
              SELECT year(l_shipdate) AS ship_year,
                     month(l_shipdate) AS ship_month,
                     sqrt(l_extendedprice) AS sqrt_price,
                     ln(l_extendedprice + 1.0) AS ln_price,
                     ceil(l_discount * 100) AS disc_pct_ceil,
                     floor(l_tax * 100) AS tax_pct_floor,
                     abs(l_quantity - 25.0) AS qty_dev
              FROM lineitem
            )
            SELECT ship_year, ship_month,
                   count(*) AS n,
                   round(avg(sqrt_price), 4) AS avg_sqrt_price,
                   round(avg(ln_price), 4) AS avg_ln_price,
                   round(avg(disc_pct_ceil), 4) AS avg_disc_ceil,
                   round(avg(tax_pct_floor), 4) AS avg_tax_floor,
                   round(avg(qty_dev), 4) AS avg_qty_dev
            FROM s
            GROUP BY ship_year, ship_month
        """,
        "q_string_funcs": r"""
            SELECT p_partkey AS partkey,
                   upper(p_name) AS name_upper,
                   substring(p_name, 1, 4) AS name_prefix,
                   concat_ws('|', p_brand, p_type) AS brand_type,
                   lpad(CAST(p_size AS VARCHAR), 3, '0') AS size_padded,
                   regexp_replace(p_name, '[aeiou]', '_', 'g') AS name_devoweled,
                   regexp_extract(p_name, '^(\w+)', 1) AS first_word,
                   CAST(length(p_name) AS BIGINT) AS name_len
            FROM part
        """,
        "q_date_buckets": """
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
                   event_type,
                   count(*) AS n_events,
                   round(sum(value), 2) AS sum_value
            FROM events
            GROUP BY 1, 2
        """,
        "q_json_props": """
            SELECT event_id,
                   CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
            FROM events
        """,
        "q_text_stats": f"""
            SELECT lang,
                   count(*) AS n_docs,
                   round(avg(length(text)), 4) AS avg_chars,
                   round(avg(len({toks})), 4) AS avg_tokens,
                   CAST(sum(len({toks})) AS BIGINT) AS total_tokens
            FROM documents
            GROUP BY lang
        """,
        "q_text_langid": """
            WITH scored AS (
              SELECT lang,
                (CASE WHEN strpos(' '||text||' ', ' the ') > 0 THEN 1 ELSE 0 END
                +CASE WHEN strpos(' '||text||' ', ' and ') > 0 THEN 1 ELSE 0 END
                +CASE WHEN strpos(' '||text||' ', ' of ') > 0 THEN 1 ELSE 0 END
                +CASE WHEN strpos(' '||text||' ', ' to ') > 0 THEN 1 ELSE 0 END
                +CASE WHEN strpos(' '||text||' ', ' is ') > 0 THEN 1 ELSE 0 END) AS score_en,
                (CASE WHEN strpos(' '||text||' ', ' der ') > 0 THEN 1 ELSE 0 END
                +CASE WHEN strpos(' '||text||' ', ' die ') > 0 THEN 1 ELSE 0 END
                +CASE WHEN strpos(' '||text||' ', ' und ') > 0 THEN 1 ELSE 0 END
                +CASE WHEN strpos(' '||text||' ', ' nicht ') > 0 THEN 1 ELSE 0 END
                +CASE WHEN strpos(' '||text||' ', ' das ') > 0 THEN 1 ELSE 0 END) AS score_de,
                (CASE WHEN strpos(' '||text||' ', ' le ') > 0 THEN 1 ELSE 0 END
                +CASE WHEN strpos(' '||text||' ', ' la ') > 0 THEN 1 ELSE 0 END
                +CASE WHEN strpos(' '||text||' ', ' et ') > 0 THEN 1 ELSE 0 END
                +CASE WHEN strpos(' '||text||' ', ' les ') > 0 THEN 1 ELSE 0 END
                +CASE WHEN strpos(' '||text||' ', ' des ') > 0 THEN 1 ELSE 0 END) AS score_fr,
                (CASE WHEN strpos(' '||text||' ', ' el ') > 0 THEN 1 ELSE 0 END
                +CASE WHEN strpos(' '||text||' ', ' la ') > 0 THEN 1 ELSE 0 END
                +CASE WHEN strpos(' '||text||' ', ' los ') > 0 THEN 1 ELSE 0 END
                +CASE WHEN strpos(' '||text||' ', ' que ') > 0 THEN 1 ELSE 0 END
                +CASE WHEN strpos(' '||text||' ', ' de ') > 0 THEN 1 ELSE 0 END) AS score_es,
                (CASE WHEN strpos(' '||text||' ', ' 的 ') > 0 THEN 1 ELSE 0 END
                +CASE WHEN strpos(' '||text||' ', ' 是 ') > 0 THEN 1 ELSE 0 END
                +CASE WHEN strpos(' '||text||' ', ' 了 ') > 0 THEN 1 ELSE 0 END
                +CASE WHEN strpos(' '||text||' ', ' 在 ') > 0 THEN 1 ELSE 0 END
                +CASE WHEN strpos(' '||text||' ', ' 我 ') > 0 THEN 1 ELSE 0 END) AS score_zh
              FROM documents
            ),
            best AS (
              SELECT lang,
                     greatest(score_en, score_de, score_fr, score_es, score_zh) AS best,
                     score_en, score_de, score_fr, score_es, score_zh
              FROM scored
            )
            SELECT lang,
                   CASE WHEN best = 0 THEN 'und'
                        WHEN score_en = best THEN 'en'
                        WHEN score_de = best THEN 'de'
                        WHEN score_fr = best THEN 'fr'
                        WHEN score_es = best THEN 'es'
                        WHEN score_zh = best THEN 'zh'
                   END AS pred_lang,
                   count(*) AS n
            FROM best
            GROUP BY 1, 2
        """,
        "q_text_quality": f"""
            WITH f AS (
              SELECT source,
                     CAST(length(text) AS BIGINT) AS n_chars,
                     CAST(len({toks}) AS BIGINT) AS n_tokens,
                     CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT) AS alpha_chars,
                     CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS BIGINT) AS punct_chars
              FROM documents
            )
            SELECT source,
                   count(*) AS n_docs,
                   round(avg(n_tokens), 4) AS avg_tokens,
                   round(avg(CASE WHEN n_tokens > 0
                                  THEN CAST(alpha_chars AS DOUBLE) / n_tokens END), 4) AS avg_token_len,
                   round(avg(CASE WHEN n_chars > 0
                                  THEN CAST(punct_chars AS DOUBLE) / n_chars END), 6) AS avg_punct_ratio
            FROM f
            GROUP BY source
        """,
        "q_token_count": f"""
            SELECT doc_id,
                   CAST(len({toks}) AS BIGINT) AS ws_tokens,
                   CAST(floor((length(text) + 3) / 4.0) AS BIGINT) AS est_bpe_tokens
            FROM documents
        """,
        "q_bm25": r"""
            WITH toked AS (
              SELECT doc_id,
                     unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                        t -> t <> '')) AS term
              FROM documents
            ),
            tf AS (
              SELECT doc_id, term, count(*) AS tf FROM toked GROUP BY doc_id, term
            ),
            doclen AS (
              SELECT doc_id, count(*) AS dl FROM toked GROUP BY doc_id
            ),
            stats AS (
              SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM doclen
            ),
            df AS (
              SELECT term, count(*) AS df FROM tf
              WHERE term IN ('hash', 'join', 'vector')
              GROUP BY term
            ),
            idf AS (
              SELECT term,
                     ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) AS idf,
                     avgdl
              FROM df CROSS JOIN stats
            )
            SELECT tf.doc_id,
                   round(sum(idf * (tf * 2.2)
                             / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 4) AS bm25
            FROM tf
            JOIN doclen ON tf.doc_id = doclen.doc_id
            JOIN idf ON tf.term = idf.term
            WHERE tf.term IN ('hash', 'join', 'vector')
            GROUP BY tf.doc_id
            ORDER BY bm25 DESC, tf.doc_id ASC
            LIMIT 20
        """,
        "q_corpus_pipeline": f"""
            WITH quality AS (
              SELECT doc_id, lang, text,
                     CAST(len({toks}) AS BIGINT) AS n_tokens,
                     CASE WHEN length(text) > 0
                          THEN CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
                               / length(text) ELSE 0.0 END AS punct_ratio
              FROM documents
            ),
            filtered AS (
              SELECT * FROM quality WHERE n_tokens >= 5 AND punct_ratio < 0.2
            ),
            keeper AS (
              SELECT doc_id, lang, text, n_tokens
              FROM (
                SELECT *, row_number() OVER (PARTITION BY {fp} ORDER BY doc_id) AS rn
                FROM filtered
              ) WHERE rn = 1
            ),
            sampled AS (
              SELECT * FROM keeper
              WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                    % 100 < 50
            )
            SELECT lang,
                   count(*) AS n_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
                   min(doc_id) AS min_doc_id
            FROM sampled
            GROUP BY lang
        """,
        "q_fingerprint": f"""
            SELECT {fp} AS fp,
                   min(doc_id) AS keeper_doc_id,
                   count(*) AS n_dups
            FROM documents
            GROUP BY 1
        """,
        "q_dedup_docs": f"""
            SELECT min(doc_id) AS doc_id, count(*) AS n_copies
            FROM documents
            GROUP BY {fp}
        """,
        "q_dedup_ngram": r"""
            WITH t AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '\s+'),
                                 x -> x <> '') AS toks
              FROM documents
            )
            SELECT doc_id,
                   CAST(len(list_distinct(list_transform(
                       range(0, greatest(len(toks) - 3, 0) + 1),
                       i -> array_to_string(toks[i+1:i+3], ' ')))) AS BIGINT) AS n_shingles,
                   CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tokens
            FROM t
        """,
        "q_sessionize": """
            WITH g AS (
              SELECT user_id, event_id, ts, value,
                     lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
              FROM events
            ),
            f AS (
              SELECT user_id, event_id, ts, value,
                     CASE WHEN prev_ts IS NULL
                               OR date_diff('microsecond', prev_ts, ts) > 1800000000
                          THEN 1 ELSE 0 END AS new_s
              FROM g
            ),
            s AS (
              SELECT user_id, ts, value,
                     CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
              FROM f
            )
            SELECT user_id, session_id,
                   count(*) AS n_events,
                   round(sum(value), 2) AS sum_value,
                   epoch_us(min(ts)) AS start_us,
                   epoch_us(max(ts)) AS end_us
            FROM s
            GROUP BY user_id, session_id
        """,
        "q_binary_meta": """
            SELECT doc_id,
                   CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                   sha256(text) AS content_sha
            FROM documents
        """,
        "q_argmax_agg": """
            SELECT c_mktsegment,
                   arg_max(c_custkey, round(c_acctbal * 1000000) + c_custkey) AS top_custkey,
                   round(max(c_acctbal), 2) AS top_acctbal,
                   arg_min(c_custkey, round(c_acctbal * 1000000) + c_custkey) AS bottom_custkey,
                   round(min(c_acctbal), 2) AS bottom_acctbal
            FROM customer
            GROUP BY c_mktsegment
        """,
        "q_scalar_subquery": """
            WITH c AS (
              SELECT o_orderkey, o_custkey, o_totalprice,
                     CAST(round(o_totalprice * 100) AS BIGINT) AS cents
              FROM orders
            ),
            a AS (
              SELECT o_custkey,
                     CAST(sum(cents) AS BIGINT) AS sum_cents,
                     count(*) AS n_orders
              FROM c GROUP BY o_custkey
            )
            SELECT o_orderkey, c.o_custkey, o_totalprice, sum_cents, n_orders
            FROM c JOIN a ON c.o_custkey = a.o_custkey
            WHERE cents * n_orders > sum_cents
        """,
        "q_null_safe_join": """
            WITH keyed AS (
              SELECT c_custkey,
                     CASE WHEN c_nationkey < 13 THEN c_nationkey END AS bucket
              FROM customer
              WHERE c_custkey % 10 = 0
            )
            SELECT a.bucket, count(*) AS n_pairs
            FROM keyed a
            JOIN keyed b
              ON a.bucket IS NOT DISTINCT FROM b.bucket
             AND a.c_custkey < b.c_custkey
            GROUP BY a.bucket
        """,
        "q_window_rank_funcs": """
            SELECT c_custkey, c_mktsegment,
                   CAST(rank() OVER w AS BIGINT) AS rnk,
                   CAST(dense_rank() OVER w AS BIGINT) AS drnk,
                   round(percent_rank() OVER w, 6) AS pct_rank,
                   CAST(ntile(4) OVER w AS BIGINT) AS quartile,
                   round(cume_dist() OVER w, 6) AS cume
            FROM customer
            WINDOW w AS (PARTITION BY c_mktsegment
                         ORDER BY c_acctbal DESC, c_custkey ASC)
        """,
        "q_collect_agg": """
            SELECT o_orderpriority,
                   string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses,
                   count(DISTINCT o_orderstatus) AS n_statuses
            FROM orders
            GROUP BY o_orderpriority
        """,
        "q_unpivot": """
            WITH wide AS (
              SELECT o_orderstatus,
                     CAST(count(*) AS DOUBLE) AS n_orders,
                     round(sum(o_totalprice), 2) AS sum_price,
                     round(avg(o_totalprice), 4) AS avg_price
              FROM orders GROUP BY o_orderstatus
            )
            SELECT o_orderstatus, metric, value
            FROM wide
            UNPIVOT (value FOR metric IN (n_orders, sum_price, avg_price))
        """,
        "q_shipping_priority": """
            SELECT o_orderkey AS orderkey,
                   strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
                   o_orderpriority AS orderpriority,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM customer
            JOIN orders ON c_custkey = o_custkey
            JOIN lineitem ON l_orderkey = o_orderkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1998-06-15 00:00:00'
              AND l_shipdate > TIMESTAMP '1998-06-15 00:00:00'
            GROUP BY o_orderkey, o_orderdate, o_orderpriority
            ORDER BY revenue DESC, orderkey ASC
            LIMIT 10
        """,
        "q_grouping_sets": """
            SELECT o_orderstatus, o_orderpriority,
                   CAST(grouping(o_orderstatus) AS INT) AS g_status,
                   CAST(grouping(o_orderpriority) AS INT) AS g_priority,
                   count(*) AS n,
                   round(sum(o_totalprice), 2) AS sum_price
            FROM orders
            GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """,
        "q_explode_words": """
            SELECT word, count(*) AS n,
                   count(DISTINCT p_partkey) AS n_parts
            FROM (SELECT p_partkey, unnest(string_split(p_name, ' ')) AS word FROM part)
            GROUP BY word
        """,
        "q_percentiles": """
            SELECT l_returnflag,
                   round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
                   round(quantile_cont(l_extendedprice, 0.50), 4) AS p50,
                   round(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
                   round(quantile_cont(l_extendedprice, 0.95), 4) AS p95
            FROM lineitem
            GROUP BY l_returnflag
        """,
        "q_distinct_agg": """
            SELECT o_orderpriority,
                   count(DISTINCT o_custkey) AS n_customers,
                   count(DISTINCT o_orderdate) AS n_days,
                   count(*) AS n_orders
            FROM orders
            GROUP BY o_orderpriority
        """,
        "q_sample_hash": """
            SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
            FROM orders
            WHERE CAST(('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT)
                  % 100 < 10
        """,
        "q_asof_join": """
            SELECT p.event_id, p.user_id,
                   epoch_us(p.ts) AS purchase_us,
                   epoch_us(c.ts) AS click_us,
                   epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
            FROM (SELECT event_id, user_id, ts FROM events
                  WHERE event_type = 'purchase') p
            ASOF LEFT JOIN (SELECT user_id, ts FROM events
                            WHERE event_type = 'click') c
              ON p.user_id = c.user_id AND p.ts >= c.ts
        """,
        "q_range_join": """
            SELECT p.event_id, p.user_id,
                   count(e.user_id) AS n_follow,
                   CASE WHEN count(e.user_id) = 0 THEN 0.0
                        ELSE round(sum(e.value), 2) END AS follow_value
            FROM (SELECT event_id, user_id, ts FROM events
                  WHERE event_type = 'purchase') p
            LEFT JOIN events e
              ON e.user_id = p.user_id
             AND e.ts > p.ts
             AND e.ts <= p.ts + INTERVAL 5 MINUTE
            GROUP BY p.event_id, p.user_id
        """,
        "q_window_range": """
            SELECT event_id, user_id,
                   count(*) OVER w AS n_1h,
                   round(sum(value) OVER w, 2) AS sum_1h
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts
                         RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
        """,
        "q_hypertable_rollup": """
            SELECT strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S') AS day_bucket,
                   CASE WHEN grain = 'hour'
                        THEN strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
                   END AS hour_bucket,
                   event_type,
                   CASE WHEN grain = 'day' THEN 1 ELSE 0 END AS is_day_grain,
                   count(*) AS n_events,
                   round(sum(value), 2) AS sum_value
            FROM events, (VALUES ('day'), ('hour')) g(grain)
            GROUP BY 1, 2, 3, 4
        """,
        "q_approx_distinct": """
            SELECT o_orderpriority,
                   count(DISTINCT o_custkey) AS n_customers,
                   count(DISTINCT o_orderdate) AS n_days,
                   TRUE AS customers_within_5pct,
                   TRUE AS days_within_5pct
            FROM orders
            GROUP BY o_orderpriority
        """,
        "q_pq_encode": f"""
            SELECT vec_id,
                   CAST({" + ".join(
                       f"(CAST({_pq_code_sql('embedding', s)} AS BIGINT)"
                       f" * {1 << (4 * s)})"
                       for s in range(8)
                   )} AS BIGINT) AS pq_code
            FROM embeddings
        """,
        "q_pq_topk": f"""
            WITH probe AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
            coded AS (
              SELECT vec_id,
                     {", ".join(
                         f"{_pq_code_sql('embedding', s)} AS c{s}"
                         for s in range(8)
                     )}
              FROM embeddings WHERE vec_id <> 0
            )
            SELECT coded.vec_id,
                   round({" + ".join(
                       _pq_adc_sql("p.embedding", s) for s in range(8)
                   )}, 6) AS adc_dot
            FROM coded, probe p
            ORDER BY adc_dot DESC, coded.vec_id ASC
            LIMIT 10
        """,
        # Residual IVFADC (Jégou 2011 §V): the oracle re-derives the
        # residual r = y − centroid(cell) elementwise, encodes r with
        # the RESIDUAL codebook literals, and scores
        # <probe, centroid(cell)> + Σ_s lut_s[code_s] — every stage of
        # similarity.ivfpq_adc_topk differentially verified.
        "q_ivfpq_topk": f"""
            WITH assigned AS (
              SELECT vec_id, embedding,
                     list_position(s, list_aggregate(s, 'max')) - 1 AS cell
              FROM (SELECT *, {_ivf_scores_sql('embedding')} AS s FROM embeddings)
            ),
            probe AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
            probe_cells AS (
              SELECT i - 1 AS cell
              FROM (SELECT unnest({_ivf_scores_sql('(SELECT embedding FROM probe)')}) AS sc,
                           generate_subscripts({_ivf_scores_sql('(SELECT embedding FROM probe)')}, 1) AS i)
              ORDER BY sc DESC LIMIT 2
            ),
            resid AS (
              SELECT vec_id, cell,
                     list_transform(range(1, 65), i ->
                         (CAST(embedding AS DOUBLE[]))[i]
                         - ({_ivf_cents_sql()})[cell + 1][i]) AS r
              FROM assigned
              WHERE cell IN (SELECT cell FROM probe_cells) AND vec_id <> 0
            ),
            coded AS (
              SELECT vec_id, cell,
                     {", ".join(
                         f"{_pq_code_sql('r', s, _RESID_CBS)} AS c{s}"
                         for s in range(8)
                     )}
              FROM resid
            )
            SELECT coded.vec_id,
                   round(list_dot_product(CAST(p.embedding AS DOUBLE[]),
                                          ({_ivf_cents_sql()})[coded.cell + 1])
                         + {" + ".join(
                       _pq_adc_sql("p.embedding", s, _RESID_CBS) for s in range(8)
                   )}, 6) AS adc_dot
            FROM coded, probe p
            ORDER BY adc_dot DESC, coded.vec_id ASC
            LIMIT 10
        """,
        # IVFADC + exact rescore: same residual chain, then the rounded
        # ADC ordering picks a 3k shortlist (vec_id tiebreak) and ONLY
        # the shortlist is exactly cosine-scored — mirrors
        # similarity.ivfpq_rescore_topk stage for stage.
        "q_ivfpq_rescore": f"""
            WITH assigned AS (
              SELECT vec_id, embedding,
                     list_position(s, list_aggregate(s, 'max')) - 1 AS cell
              FROM (SELECT *, {_ivf_scores_sql('embedding')} AS s FROM embeddings)
            ),
            probe AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
            probe_cells AS (
              SELECT i - 1 AS cell
              FROM (SELECT unnest({_ivf_scores_sql('(SELECT embedding FROM probe)')}) AS sc,
                           generate_subscripts({_ivf_scores_sql('(SELECT embedding FROM probe)')}, 1) AS i)
              ORDER BY sc DESC LIMIT 2
            ),
            resid AS (
              SELECT vec_id, cell,
                     list_transform(range(1, 65), i ->
                         (CAST(embedding AS DOUBLE[]))[i]
                         - ({_ivf_cents_sql()})[cell + 1][i]) AS r
              FROM assigned
              WHERE cell IN (SELECT cell FROM probe_cells) AND vec_id <> 0
            ),
            coded AS (
              SELECT vec_id, cell,
                     {", ".join(
                         f"{_pq_code_sql('r', s, _RESID_CBS)} AS c{s}"
                         for s in range(8)
                     )}
              FROM resid
            ),
            short AS (
              SELECT coded.vec_id,
                     round(list_dot_product(CAST(p.embedding AS DOUBLE[]),
                                            ({_ivf_cents_sql()})[coded.cell + 1])
                           + {" + ".join(
                         _pq_adc_sql("p.embedding", s, _RESID_CBS) for s in range(8)
                     )}, 6) AS adc_dot
              FROM coded, probe p
              ORDER BY adc_dot DESC, coded.vec_id ASC
              LIMIT 30
            )
            SELECT e.vec_id, e.label,
                   round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                                CAST(p.embedding AS DOUBLE[])), 6) AS cosine
            FROM embeddings e
            JOIN short USING (vec_id), probe p
            ORDER BY cosine DESC, e.vec_id ASC
            LIMIT 10
        """,
        "q_similarity_topk": """
            WITH probe AS (SELECT embedding FROM embeddings WHERE vec_id = 0)
            SELECT e.vec_id, e.label,
                   round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                                CAST(p.embedding AS DOUBLE[])), 6) AS cosine
            FROM embeddings e, probe p
            WHERE e.vec_id <> 0
            ORDER BY cosine DESC, e.vec_id ASC
            LIMIT 10
        """,
        "q_winnow_fingerprint": r"""
            WITH t AS (
              SELECT doc_id, lower(regexp_replace(text, '\s+', ' ', 'g')) AS t
              FROM documents
            ),
            g AS (
              SELECT doc_id,
                     list_transform(range(1, greatest(length(t) - 7, 1) + 1),
                                    i -> md5(substring(t, i, 8))) AS grams
              FROM t
            ),
            m AS (
              SELECT doc_id,
                     list_distinct(list_transform(
                       range(1, greatest(len(grams) - 3, 1) + 1),
                       j -> list_aggregate(grams[j:j+3], 'min'))) AS mins
              FROM g
            )
            SELECT doc_id,
                   CAST(len(mins) AS BIGINT) AS n_fingerprints,
                   md5(array_to_string(list_sort(mins), ',')) AS winnow_sig
            FROM m
        """,
        "q_dedup_embedding": f"""
            WITH sigged AS (
              SELECT vec_id, embedding, {_srp_sig_sql('embedding')} AS sig
              FROM embeddings
            ),
            pairs AS (
              SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                     round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                  CAST(b.embedding AS DOUBLE[])), 6) AS cosine
              FROM sigged a JOIN sigged b ON a.sig = b.sig AND a.vec_id < b.vec_id
            )
            SELECT * FROM pairs WHERE cosine >= 0.30
        """,
        "q_semdedup": f"""
            WITH assigned AS (
              SELECT vec_id, embedding,
                     list_position(s, list_aggregate(s, 'max')) - 1 AS cell
              FROM (SELECT *, {_ivf_scores_sql('embedding')} AS s FROM embeddings)
            ),
            hits AS (
              SELECT a.cell AS cell, b.vec_id AS vec_id, a.vec_id AS dup_of,
                     round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                  CAST(b.embedding AS DOUBLE[])), 6) AS cosine
              FROM assigned a JOIN assigned b
                ON a.cell = b.cell AND a.vec_id < b.vec_id
            ),
            ranked AS (
              SELECT *, row_number() OVER (
                PARTITION BY vec_id ORDER BY cosine DESC, dup_of ASC) AS rn
              FROM hits WHERE cosine >= 0.30
            )
            SELECT vec_id, cell, dup_of, cosine
            FROM ranked WHERE rn = 1 ORDER BY vec_id
        """,
        "q_similarity_ann": f"""
            WITH sigged AS (
              SELECT vec_id, label, embedding, {_srp_sig_sql('embedding')} AS sig
              FROM embeddings
            ),
            probe AS (SELECT embedding, sig FROM sigged WHERE vec_id = 0)
            SELECT s.vec_id, s.label,
                   round(list_cosine_similarity(CAST(s.embedding AS DOUBLE[]),
                                                CAST(p.embedding AS DOUBLE[])), 6) AS cosine
            FROM sigged s, probe p
            WHERE s.vec_id <> 0
              AND (s.sig = p.sig OR {" OR ".join(f"s.sig = xor(p.sig, {1 << i})" for i in range(8))})
            ORDER BY cosine DESC, s.vec_id ASC
            LIMIT 10
        """,
        "q_similarity_ivf": f"""
            WITH assigned AS (
              SELECT vec_id, label, embedding,
                     list_position(s, list_aggregate(s, 'max')) - 1 AS cell
              FROM (SELECT *, {_ivf_scores_sql('embedding')} AS s FROM embeddings)
            ),
            probe AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
            probe_cells AS (
              SELECT i - 1 AS cell
              FROM (SELECT unnest({_ivf_scores_sql('(SELECT embedding FROM probe)')}) AS sc,
                           generate_subscripts({_ivf_scores_sql('(SELECT embedding FROM probe)')}, 1) AS i)
              ORDER BY sc DESC LIMIT 2
            )
            SELECT a.vec_id, a.label,
                   round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                CAST(p.embedding AS DOUBLE[])), 6) AS cosine
            FROM assigned a, probe p
            WHERE a.cell IN (SELECT cell FROM probe_cells) AND a.vec_id <> 0
            ORDER BY cosine DESC, a.vec_id ASC
            LIMIT 10
        """,
        "q_chunk_documents": r"""
            WITH t AS (
              SELECT doc_id,
                     list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
              FROM documents
            ),
            starts AS (
              SELECT doc_id, toks,
                     unnest(range(1, greatest(len(toks), 1) + 1, 48)) AS start
              FROM t
            )
            SELECT doc_id,
                   CAST((start - 1) // 48 AS BIGINT) AS chunk_id,
                   CAST(len(toks[start:start+63]) AS BIGINT) AS n_tokens,
                   md5(array_to_string(toks[start:start+63], ' ')) AS chunk_fp
            FROM starts
        """,
        "q_pack_chunks": r"""
            WITH t AS (
              SELECT doc_id,
                     list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
              FROM documents
            ),
            starts AS (
              SELECT doc_id, toks,
                     unnest(range(1, greatest(len(toks), 1) + 1, 48)) AS start
              FROM t
            ),
            chunks AS (
              SELECT doc_id,
                     CAST((start - 1) // 48 AS BIGINT) AS chunk_id,
                     CAST(len(toks[start:start+63]) AS BIGINT) AS n_tokens
              FROM starts
            ),
            cum AS (
              SELECT doc_id % 32 AS shard, doc_id, chunk_id, n_tokens,
                     sum(n_tokens) OVER (PARTITION BY doc_id % 32
                                         ORDER BY doc_id, chunk_id
                                         ROWS UNBOUNDED PRECEDING) - n_tokens AS tokens_before
              FROM chunks
            )
            SELECT CAST(shard AS BIGINT) AS shard,
                   CAST(tokens_before // 256 AS BIGINT) AS bin_id,
                   count(*) AS n_chunks,
                   CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
                   round(CAST(sum(n_tokens) AS DOUBLE) / 256.0, 6) AS fill_ratio
            FROM cum
            GROUP BY 1, 2
        """,
        "q_repetition_rules": r"""
            WITH base AS (
              SELECT doc_id,
                     list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS toks,
                     list_filter(string_split(text, chr(10)), l -> trim(l) <> '') AS lines
              FROM documents
            ),
            line_stats AS (
              SELECT doc_id,
                     CAST(len(toks) AS BIGINT) AS n_tokens,
                     CASE WHEN len(lines) > 0 THEN
                       CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE) / len(lines)
                     END AS dup_line_frac
              FROM base
            ),
            bg AS (
              SELECT doc_id, toks[i] || ' ' || toks[i+1] AS bg
              FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
                    FROM base WHERE len(toks) >= 2)
            ),
            top AS (
              SELECT doc_id, max(c) AS top_bg
              FROM (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY doc_id, bg)
              WHERE c >= 2
              GROUP BY doc_id
            )
            SELECT s.doc_id,
                   round(s.dup_line_frac, 6) AS dup_line_frac,
                   round(CASE WHEN s.n_tokens >= 2
                              THEN CAST(t.top_bg * 2 AS DOUBLE) / s.n_tokens END,
                         6) AS top_bigram_frac,
                   (coalesce(s.dup_line_frac <= 0.3, TRUE)
                    AND coalesce(CASE WHEN s.n_tokens >= 2
                                      THEN CAST(t.top_bg * 2 AS DOUBLE) / s.n_tokens END
                                 <= 0.2, TRUE)) AS keep
            FROM line_stats s LEFT JOIN top t ON s.doc_id = t.doc_id
        """,
        "q_source_mix": f"""
            WITH agg AS (
              SELECT source, count(*) AS n_docs,
                     CAST(sum(len({toks})) AS BIGINT) AS src_tokens
              FROM documents GROUP BY source
            )
            SELECT source, n_docs, src_tokens,
                   round(CAST(src_tokens AS DOUBLE)
                         / CAST(sum(src_tokens) OVER () AS DOUBLE), 6) AS token_share,
                   CASE WHEN src_tokens > 0 THEN
                     round((CAST(sum(src_tokens) OVER () AS DOUBLE) / count(*) OVER ())
                           / src_tokens, 6)
                   END AS mix_weight
            FROM agg
        """,
        "q_weighted_sample": f"""
            WITH agg AS (
              SELECT source, count(*) AS n_docs,
                     CAST(sum(len({toks})) AS BIGINT) AS src_tokens
              FROM documents GROUP BY source
            ),
            s1 AS (
              SELECT source, n_docs, src_tokens,
                     CAST(src_tokens AS DOUBLE)
                       / CAST(sum(src_tokens) OVER () AS DOUBLE) AS share
              FROM agg
            ),
            s2 AS (
              SELECT *, pow(share, 0.7) AS powed FROM s1
            ),
            rates AS (
              SELECT source, n_docs, src_tokens,
                     CASE WHEN src_tokens > 0 THEN
                       round(least(1.0,
                         0.5 * powed / sum(powed) OVER () / share), 6)
                     ELSE 0.0 END AS sample_rate
              FROM s2
            ),
            per_doc AS (
              SELECT source,
                     ('0x' || substr({fp}, 1, 8))::BIGINT AS bucket,
                     CAST(len({toks}) AS BIGINT) AS n_toks
              FROM documents
            )
            SELECT p.source,
                   CAST(min(r.n_docs) AS BIGINT) AS n_docs,
                   CAST(min(r.src_tokens) AS BIGINT) AS src_tokens,
                   min(r.sample_rate) AS sample_rate,
                   CAST(sum(CASE WHEN CAST(p.bucket AS DOUBLE)
                                      < r.sample_rate * 4294967296.0
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
                   CAST(sum(CASE WHEN CAST(p.bucket AS DOUBLE)
                                      < r.sample_rate * 4294967296.0
                                 THEN p.n_toks ELSE 0 END) AS BIGINT)
                     AS sampled_tokens
            FROM per_doc p JOIN rates r USING (source)
            GROUP BY p.source
            ORDER BY p.source
        """,
        "q_decontaminate": r"""
            WITH toked AS (
              SELECT doc_id, source,
                     list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS toks
              FROM documents
            ),
            grams AS (
              SELECT doc_id, source, (doc_id % 50 = 0) AS is_eval,
                     list_distinct(list_transform(
                       range(0, greatest(len(toks) - 8, 0) + 1),
                       i -> array_to_string(toks[i+1:i+8], ' '))) AS gs
              FROM toked WHERE len(toks) > 0
            ),
            ev AS (
              SELECT DISTINCT g
              FROM (SELECT unnest(gs) AS g FROM grams WHERE is_eval)
            ),
            hits AS (
              SELECT DISTINCT t.doc_id
              FROM (SELECT doc_id, unnest(gs) AS g FROM grams WHERE NOT is_eval) t
              JOIN ev USING (g)
            )
            SELECT g.source,
                   count(*) AS n_train_docs,
                   CAST(sum(CASE WHEN h.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_contaminated,
                   round(CAST(sum(CASE WHEN h.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                         / count(*), 6) AS contamination_rate
            FROM grams g LEFT JOIN hits h ON g.doc_id = h.doc_id
            WHERE NOT g.is_eval
            GROUP BY g.source
        """,
        "q_decontaminate_hashed": r"""
            WITH toked AS (
              SELECT doc_id, source,
                     list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS toks
              FROM documents
            ),
            grams AS (
              SELECT doc_id, source, (doc_id % 50 = 0) AS is_eval,
                     list_distinct(list_transform(
                       range(0, greatest(len(toks) - 8, 0) + 1),
                       i -> ('0x' || substr(md5(array_to_string(toks[i+1:i+8], ' ')),
                                            1, 16))::UBIGINT)) AS gs
              FROM toked WHERE len(toks) > 0
            ),
            ev AS (
              SELECT DISTINCT g
              FROM (SELECT unnest(gs) AS g FROM grams WHERE is_eval)
            ),
            hits AS (
              SELECT DISTINCT t.doc_id
              FROM (SELECT doc_id, unnest(gs) AS g FROM grams WHERE NOT is_eval) t
              JOIN ev USING (g)
            )
            SELECT g.source,
                   count(*) AS n_train_docs,
                   CAST(sum(CASE WHEN h.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_contaminated,
                   round(CAST(sum(CASE WHEN h.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                         / count(*), 6) AS contamination_rate
            FROM grams g LEFT JOIN hits h ON g.doc_id = h.doc_id
            WHERE NOT g.is_eval
            GROUP BY g.source
        """,
        "q_chunk_pack_pipeline": r"""
            WITH t AS (
              SELECT doc_id,
                     list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
              FROM documents
            ),
            starts AS (
              SELECT doc_id, toks,
                     unnest(range(1, greatest(len(toks), 1) + 1, 48)) AS start
              FROM t
            ),
            chunks AS (
              SELECT doc_id,
                     CAST((start - 1) // 48 AS BIGINT) AS chunk_id,
                     CAST(len(toks[start:start+63]) AS BIGINT) AS n_tokens,
                     md5(array_to_string(toks[start:start+63], ' ')) AS chunk_fp
              FROM starts
            ),
            dedup AS (
              SELECT doc_id, chunk_id, n_tokens FROM (
                SELECT doc_id, chunk_id, n_tokens,
                       row_number() OVER (PARTITION BY chunk_fp
                                          ORDER BY doc_id, chunk_id) AS rn
                FROM chunks
              ) WHERE rn = 1
            ),
            cum AS (
              SELECT doc_id % 32 AS shard, n_tokens,
                     sum(n_tokens) OVER (PARTITION BY doc_id % 32
                                         ORDER BY doc_id, chunk_id
                                         ROWS UNBOUNDED PRECEDING) - n_tokens AS tokens_before
              FROM dedup
            ),
            binned AS (
              SELECT shard, n_tokens, tokens_before // 256 AS bin_id FROM cum
            )
            SELECT CAST(shard AS BIGINT) AS shard,
                   count(*) AS n_chunks,
                   CAST(count(DISTINCT bin_id) AS BIGINT) AS n_bins,
                   CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
                   round(CAST(sum(n_tokens) AS DOUBLE)
                         / (count(DISTINCT bin_id) * 256.0), 6) AS avg_fill
            FROM binned
            GROUP BY shard
        """,
        "q_curation_pipeline": r"""
            WITH m AS (
              SELECT doc_id, text, lang,
                list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS toks,
                string_split(text, chr(10)) AS lines,
                length(regexp_replace(text, '[^#…]', '', 'g')) AS n_symbols,
                CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT)
                  AS alpha_chars,
                CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS BIGINT)
                  AS punct_chars,
                CAST(length(text) AS BIGINT) AS n_chars,
                (CASE WHEN contains(' ' || text || ' ', ' the ') THEN 1 ELSE 0 END
                 + CASE WHEN contains(' ' || text || ' ', ' a ') THEN 1 ELSE 0 END
                 + CASE WHEN contains(' ' || text || ' ', ' of ') THEN 1 ELSE 0 END
                 + CASE WHEN contains(' ' || text || ' ', ' and ') THEN 1 ELSE 0 END
                 + CASE WHEN contains(' ' || text || ' ', ' to ') THEN 1 ELSE 0 END
                 + CASE WHEN contains(' ' || text || ' ', ' in ') THEN 1 ELSE 0 END)
                  AS stop_hits
              FROM documents
            ),
            g AS (
              SELECT doc_id, toks,
                ((len(toks) BETWEEN 5 AND 10000)
                 AND coalesce((CASE WHEN len(toks) > 0 THEN
                       CAST(coalesce(list_sum(list_transform(toks, t -> length(t))), 0)
                            AS DOUBLE) / len(toks) END) BETWEEN 2.0 AND 12.0, FALSE)
                 AND coalesce((CASE WHEN len(toks) > 0 THEN
                       CAST(n_symbols AS DOUBLE) / len(toks) END) <= 0.1, FALSE)
                 AND coalesce((CASE WHEN len(lines) > 0 THEN
                       CAST(len(list_filter(lines, l -> regexp_matches(trim(l), '^[-*•]')))
                            AS DOUBLE) / len(lines) END) < 0.3, FALSE)
                 AND coalesce((CASE WHEN len(toks) > 0 THEN
                       CAST(len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]')))
                            AS DOUBLE) / len(toks) END) >= 0.7, FALSE)) AS gopher_ok,
                ((lang = 'en') AND (len(toks) >= 30)
                 AND (NOT contains(text, '{'))
                 AND (NOT contains(lower(text), 'lorem ipsum'))) AS c4_ok,
                (((((-3.0::DOUBLE + 0.02::DOUBLE * len(toks))
                    + 0.6::DOUBLE * stop_hits)
                   + 0.25::DOUBLE * coalesce(CASE WHEN len(toks) > 0
                       THEN CAST(alpha_chars AS DOUBLE) / len(toks) END, 0.0::DOUBLE))
                   + (-8.0::DOUBLE) * coalesce(CASE WHEN n_chars > 0
                       THEN CAST(punct_chars AS DOUBLE) / n_chars END, 0.0::DOUBLE))
                  >= 0) AS clf_ok
              FROM m
            ),
            kept AS (
              SELECT doc_id, toks FROM g WHERE gopher_ok AND c4_ok AND clf_ok
            ),
            starts AS (
              SELECT doc_id, toks,
                     unnest(range(1, greatest(len(toks), 1) + 1, 48)) AS start
              FROM kept
            ),
            chunks AS (
              SELECT doc_id,
                     CAST((start - 1) // 48 AS BIGINT) AS chunk_id,
                     CAST(len(toks[start:start+63]) AS BIGINT) AS n_tokens,
                     md5(array_to_string(toks[start:start+63], ' ')) AS chunk_fp
              FROM starts
            ),
            dedup AS (
              SELECT doc_id, chunk_id, n_tokens FROM (
                SELECT doc_id, chunk_id, n_tokens,
                       row_number() OVER (PARTITION BY chunk_fp
                                          ORDER BY doc_id, chunk_id) AS rn
                FROM chunks
              ) WHERE rn = 1
            ),
            cum AS (
              SELECT doc_id, doc_id % 32 AS shard, n_tokens,
                     sum(n_tokens) OVER (PARTITION BY doc_id % 32
                                         ORDER BY doc_id, chunk_id
                                         ROWS UNBOUNDED PRECEDING) - n_tokens AS tokens_before
              FROM dedup
            ),
            binned AS (
              SELECT shard, doc_id, n_tokens, tokens_before // 256 AS bin_id FROM cum
            )
            SELECT CAST(shard AS BIGINT) AS shard,
                   CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
                   count(*) AS n_chunks,
                   CAST(max(bin_id) + 1 AS BIGINT) AS n_bins,
                   CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
                   round(CAST(sum(n_tokens) AS DOUBLE)
                         / ((max(bin_id) + 1) * 256.0), 6) AS avg_fill
            FROM binned
            GROUP BY shard
            ORDER BY shard
        """,
        "q_gopher_rules": """
            WITH f AS (
              SELECT source,
                list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS toks,
                string_split(text, chr(10)) AS lines,
                length(regexp_replace(text, '[^#…]', '', 'g')) AS n_symbols
              FROM documents
            ),
            m AS (
              SELECT source,
                CAST(len(toks) AS BIGINT) AS n_words,
                CASE WHEN len(toks) > 0 THEN
                  CAST(coalesce(list_sum(list_transform(toks, t -> length(t))), 0) AS DOUBLE) / len(toks)
                END AS mwl,
                CASE WHEN len(toks) > 0 THEN CAST(n_symbols AS DOUBLE) / len(toks) END AS symr,
                CASE WHEN len(lines) > 0 THEN
                  CAST(len(list_filter(lines, l -> regexp_matches(trim(l), '^[-*•]'))) AS DOUBLE) / len(lines)
                END AS bulr,
                CASE WHEN len(toks) > 0 THEN
                  CAST(len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]'))) AS DOUBLE) / len(toks)
                END AS alpr
              FROM f
            ),
            flags AS (
              SELECT source,
                (n_words BETWEEN 5 AND 10000) AS ok_words,
                coalesce(mwl BETWEEN 2.0 AND 12.0, FALSE) AS ok_wordlen,
                coalesce(symr <= 0.1, FALSE) AS ok_symbols,
                coalesce(bulr < 0.3, FALSE) AS ok_bullets,
                coalesce(alpr >= 0.7, FALSE) AS ok_alpha
              FROM m
            )
            SELECT source, count(*) AS n_docs,
              CAST(sum(CAST(ok_words AS BIGINT)) AS BIGINT) AS pass_words,
              CAST(sum(CAST(ok_wordlen AS BIGINT)) AS BIGINT) AS pass_wordlen,
              CAST(sum(CAST(ok_symbols AS BIGINT)) AS BIGINT) AS pass_symbols,
              CAST(sum(CAST(ok_bullets AS BIGINT)) AS BIGINT) AS pass_bullets,
              CAST(sum(CAST(ok_alpha AS BIGINT)) AS BIGINT) AS pass_alpha,
              CAST(sum(CAST(ok_words AND ok_wordlen AND ok_symbols
                            AND ok_bullets AND ok_alpha AS BIGINT)) AS BIGINT) AS pass_all
            FROM flags
            GROUP BY source
        """,
        "q_c4_rules": r"""
            WITH flags AS (
              SELECT source,
                (lang = 'en') AS ok_lang,
                (len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) >= 30)
                  AS ok_words,
                (len(list_filter(string_split(text, chr(10)),
                     l -> regexp_matches(trim(l), '[.!?"”]$')
                          AND len(list_filter(string_split_regex(trim(l), '\s+'),
                                              t -> t <> '')) >= 5)) >= 1) AS ok_lines,
                (NOT contains(text, '{')) AS ok_brace,
                (NOT contains(lower(text), 'lorem ipsum')) AS ok_lorem
              FROM documents
            )
            SELECT source, count(*) AS n_docs,
              CAST(sum(CAST(ok_lang AS BIGINT)) AS BIGINT) AS pass_lang,
              CAST(sum(CAST(ok_words AS BIGINT)) AS BIGINT) AS pass_words,
              CAST(sum(CAST(ok_lines AS BIGINT)) AS BIGINT) AS pass_lines,
              CAST(sum(CAST(ok_brace AS BIGINT)) AS BIGINT) AS pass_brace,
              CAST(sum(CAST(ok_lorem AS BIGINT)) AS BIGINT) AS pass_lorem,
              CAST(sum(CAST(ok_lang AND ok_words AND ok_lines
                            AND ok_brace AND ok_lorem AS BIGINT)) AS BIGINT) AS pass_all
            FROM flags
            GROUP BY source
        """,
        "q_span_dedup": r"""
            WITH t AS (
              SELECT doc_id,
                     list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
              FROM documents
            ),
            grams AS (
              SELECT doc_id, array_to_string(toks[i:i+4], ' ') AS g
              FROM t, unnest(range(1, greatest(len(toks) - 4, 0) + 1)) AS u(i)
            ),
            dupg AS (
              SELECT g FROM (SELECT DISTINCT g, doc_id FROM grams)
              GROUP BY g HAVING count(*) > 1
            ),
            per_doc AS (
              SELECT doc_id,
                     CAST(count(*) AS BIGINT) AS n_spans,
                     CAST(sum(CASE WHEN g IN (SELECT g FROM dupg) THEN 1 ELSE 0 END)
                          AS BIGINT) AS dup_spans
              FROM grams GROUP BY doc_id
            )
            SELECT doc_id, n_spans, dup_spans,
                   round(CAST(dup_spans AS DOUBLE) / n_spans, 6) AS dup_frac,
                   (dup_spans * 100 <= n_spans * 5) AS keep
            FROM per_doc
        """,
        "q_kmeans_step": _kmeans_step_sql(),
        "q_stratified_split": f"""
            WITH s AS (
              SELECT source,
                CASE WHEN ('0x' || substr({fp}, 1, 8))::BIGINT * 100
                          < 90 * 4294967296 THEN 'train' ELSE 'val' END AS split,
                CAST(len(list_filter(string_split_regex(text, '\\s+'),
                                     t -> t <> '')) AS BIGINT) AS n_toks
              FROM documents
            )
            SELECT source, split,
                   count(*) AS n_docs,
                   CAST(sum(n_toks) AS BIGINT) AS n_tokens
            FROM s GROUP BY source, split
        """,
        "q_lm_perplexity": r"""
            WITH toked AS (
              SELECT doc_id,
                     unnest(list_filter(string_split_regex(text, '\s+'),
                                        t -> t <> '')) AS tok
              FROM documents
            ),
            vocab AS (
              SELECT tok, CAST(count(*) AS BIGINT) AS cnt
              FROM toked GROUP BY tok
            ),
            tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM vocab),
            per_doc AS (
              SELECT t.doc_id,
                     CAST(count(*) AS BIGINT) AS n_tokens,
                     round(avg(ln(CAST(tot.total AS DOUBLE) / v.cnt)), 6)
                       AS avg_nll
              FROM toked t JOIN vocab v USING (tok) CROSS JOIN tot
              GROUP BY t.doc_id
            )
            SELECT doc_id, n_tokens, avg_nll,
                   round(exp(avg_nll), 4) AS perplexity,
                   CAST(ntile(3) OVER (ORDER BY avg_nll ASC, doc_id ASC)
                        AS BIGINT) AS ppl_bucket
            FROM per_doc
        """,
        "q_quality_classifier": r"""
            WITH f AS (
              SELECT doc_id, source,
                CAST(len(list_filter(string_split_regex(text, '\s+'),
                                     t -> t <> '')) AS BIGINT) AS n_tokens,
                CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT)
                  AS alpha_chars,
                CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS BIGINT)
                  AS punct_chars,
                CAST(length(text) AS BIGINT) AS n_chars,
                (CASE WHEN contains(' ' || text || ' ', ' the ') THEN 1 ELSE 0 END
                 + CASE WHEN contains(' ' || text || ' ', ' a ') THEN 1 ELSE 0 END
                 + CASE WHEN contains(' ' || text || ' ', ' of ') THEN 1 ELSE 0 END
                 + CASE WHEN contains(' ' || text || ' ', ' and ') THEN 1 ELSE 0 END
                 + CASE WHEN contains(' ' || text || ' ', ' to ') THEN 1 ELSE 0 END
                 + CASE WHEN contains(' ' || text || ' ', ' in ') THEN 1 ELSE 0 END)
                  AS stop_hits
              FROM documents
            ),
            s AS (
              SELECT doc_id, source,
                -- every literal is ::DOUBLE: DuckDB otherwise parses 0.02
                -- as DECIMAL and evaluates exactly, drifting 1 ulp from
                -- Spark's double chain (flips half-way round() digits)
                ((((-3.0::DOUBLE + 0.02::DOUBLE * n_tokens)
                   + 0.6::DOUBLE * stop_hits)
                  + 0.25::DOUBLE * coalesce(CASE WHEN n_tokens > 0
                      THEN CAST(alpha_chars AS DOUBLE) / n_tokens END, 0.0::DOUBLE))
                  + (-8.0::DOUBLE) * coalesce(CASE WHEN n_chars > 0
                      THEN CAST(punct_chars AS DOUBLE) / n_chars END, 0.0::DOUBLE))
                  AS logit
              FROM f
            )
            SELECT doc_id, source,
                   logit,
                   round(1.0 / (1.0 + exp(-logit)), 6) AS score,
                   (logit >= 0) AS keep
            FROM s
        """,
        "q_redact_pii": r"""
            WITH s0 AS (SELECT doc_id, text AS t0 FROM documents),
            s1 AS (
              SELECT doc_id, t0,
                regexp_replace(t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                               '<EMAIL>', 'g') AS t1
              FROM s0
            ),
            s2 AS (
              SELECT doc_id, t0, t1,
                regexp_replace(t1, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b',
                               '<IP>', 'g') AS t2
              FROM s1
            ),
            s3 AS (
              SELECT doc_id, t0, t1, t2,
                regexp_replace(t2, '(?:\+[0-9][0-9()\-\. ]{5,16}[0-9]|\(?[0-9]{3,4}\)?[\-\. ]?[0-9]{3,4}[\-\. ][0-9]{4}|\b[0-9]{7,15}\b)',
                               '<PHONE>', 'g') AS t3
              FROM s2
            )
            SELECT doc_id,
              CAST(len(string_split_regex(t0,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) - 1 AS BIGINT) AS n_email,
              CAST(len(string_split_regex(t1,
                '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) - 1 AS BIGINT) AS n_ipv4,
              CAST(len(string_split_regex(t2,
                '(?:\+[0-9][0-9()\-\. ]{5,16}[0-9]|\(?[0-9]{3,4}\)?[\-\. ]?[0-9]{3,4}[\-\. ][0-9]{4}|\b[0-9]{7,15}\b)')) - 1 AS BIGINT) AS n_phone,
              md5(t3) AS redacted_fp
            FROM s3
        """,
        # the REAL WAV encode→decode roundtrip runs Spark-side
        # (synth_wav_media → audio_features_wav); a square wave's
        # samples are all ±amplitude, so the oracle recomputes every
        # feature closed-form from doc_id — decoder arithmetic,
        # channel fold, and the corrupt-payload lane all checked
        "q_audio_features": """
            SELECT doc_id AS media_id,
                   CASE WHEN doc_id % 11 = 0 THEN 'false' ELSE 'true' END AS ok,
                   CASE WHEN doc_id % 11 = 0 THEN NULL
                        WHEN doc_id % 2 = 0 THEN CAST(8000 AS BIGINT)
                        ELSE CAST(16000 AS BIGINT) END AS sample_rate,
                   CASE WHEN doc_id % 11 = 0 THEN NULL
                        ELSE CAST(1 + doc_id % 2 AS BIGINT) END AS n_channels,
                   CASE WHEN doc_id % 11 = 0 THEN NULL
                        ELSE CAST((800 + (doc_id % 5) * 160) * 1000
                             // (CASE WHEN doc_id % 2 = 0 THEN 8000 ELSE 16000 END)
                             AS BIGINT) END AS duration_ms,
                   CASE WHEN doc_id % 11 = 0 THEN NULL
                        ELSE format('{:.4f}',
                          CASE WHEN doc_id % 2 = 0
                               THEN CAST(1000 + (doc_id % 20) * 500 AS DOUBLE)
                               ELSE ((1000 + (doc_id % 20) * 500)
                                     + (1000 + (doc_id % 20) * 500) // 2) / 2.0
                          END) END AS rms,
                   CASE WHEN doc_id % 11 = 0 THEN NULL
                        ELSE CAST(1000 + (doc_id % 20) * 500 AS BIGINT) END AS peak
            FROM documents
        """,
        # count-min sketch — the 4×64 grid rebuilt from the same
        # md5-derived hashes, min-of-cells estimate replayed
        "q_countmin": """
            WITH rows_ AS (SELECT unnest(range(0, 4)) AS r),
            cells AS (
              SELECT r,
                     CAST(('0x' || substr(md5(CAST(r AS VARCHAR) || '|'
                            || CAST(o_custkey AS VARCHAR)), 9, 8))::UBIGINT
                          % 64 AS BIGINT) AS col
              FROM orders CROSS JOIN rows_
            ),
            counters AS (
              SELECT r, col, CAST(count(*) AS BIGINT) AS c
              FROM cells GROUP BY 1, 2
            ),
            probes AS (SELECT DISTINCT o_custkey FROM orders),
            probed AS (
              SELECT o_custkey, r,
                     CAST(('0x' || substr(md5(CAST(r AS VARCHAR) || '|'
                            || CAST(o_custkey AS VARCHAR)), 9, 8))::UBIGINT
                          % 64 AS BIGINT) AS col
              FROM probes CROSS JOIN rows_
            ),
            est AS (
              SELECT o_custkey, CAST(min(c) AS BIGINT) AS cms_est
              FROM probed JOIN counters USING (r, col) GROUP BY 1
            ),
            exact AS (
              SELECT o_custkey, CAST(count(*) AS BIGINT) AS exact_n
              FROM orders GROUP BY 1
            )
            SELECT exact.o_custkey, exact_n, cms_est,
                   CAST(cms_est - exact_n AS BIGINT) AS overshoot
            FROM exact JOIN est USING (o_custkey)
        """,
        # 3-iteration weighted PageRank — edge weights, transition
        # probabilities and every iteration unrolled in the same
        # float-op order ((1-0.85)/n + 0.85*inflow, inflow = Σ r·p)
        "q_pagerank": """
            WITH e AS (
              SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
                     CAST(count(*) AS BIGINT) AS w
              FROM lineitem l
              JOIN orders o ON l.l_orderkey = o.o_orderkey
              JOIN customer c ON o.o_custkey = c.c_custkey
              JOIN supplier s ON l.l_suppkey = s.s_suppkey
              GROUP BY 1, 2
            ),
            outw AS (SELECT src, sum(w) AS ow FROM e GROUP BY 1),
            trans AS (
              SELECT e.src, e.dst, e.w / outw.ow AS p
              FROM e JOIN outw USING (src)
            ),
            nodes AS (
              SELECT src AS node FROM e UNION SELECT dst FROM e
            ),
            params AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
            r0 AS (
              SELECT node, 1.0 / n AS r FROM nodes CROSS JOIN params
            ),
            r1 AS (
              SELECT nodes.node,
                     (1.0 - 0.85) / params.n
                     + 0.85 * coalesce(i.inflow, 0.0) AS r
              FROM nodes CROSS JOIN params
              LEFT JOIN (SELECT t.dst AS node, sum(r0.r * t.p) AS inflow
                         FROM trans t JOIN r0 ON t.src = r0.node
                         GROUP BY 1) i USING (node)
            ),
            r2 AS (
              SELECT nodes.node,
                     (1.0 - 0.85) / params.n
                     + 0.85 * coalesce(i.inflow, 0.0) AS r
              FROM nodes CROSS JOIN params
              LEFT JOIN (SELECT t.dst AS node, sum(r1.r * t.p) AS inflow
                         FROM trans t JOIN r1 ON t.src = r1.node
                         GROUP BY 1) i USING (node)
            ),
            r3 AS (
              SELECT nodes.node,
                     (1.0 - 0.85) / params.n
                     + 0.85 * coalesce(i.inflow, 0.0) AS r
              FROM nodes CROSS JOIN params
              LEFT JOIN (SELECT t.dst AS node, sum(r2.r * t.p) AS inflow
                         FROM trans t JOIN r2 ON t.src = r2.node
                         GROUP BY 1) i USING (node)
            )
            SELECT node, round(r, 6) AS pagerank,
                   CAST(row_number() OVER (
                     ORDER BY round(r, 6) DESC, node ASC) AS BIGINT) AS rank
            FROM r3
        """,
        # per-source KL divergence — same tokenizer as the
        # tfidf/bm25 oracles, same p_s·ln(p_s/p_c) op order
        "q_kl_divergence": r"""
            WITH toked AS (
              SELECT source,
                     unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                        t -> t <> '')) AS term
              FROM documents
            ),
            st AS (
              SELECT source, term, CAST(count(*) AS BIGINT) AS n_st
              FROM toked GROUP BY 1, 2
            ),
            ct AS (
              SELECT term, CAST(sum(n_st) AS BIGINT) AS n_ct FROM st GROUP BY 1
            ),
            tots AS (SELECT source, sum(n_st) AS n_s FROM st GROUP BY 1),
            tot AS (SELECT sum(n_st) AS n_c FROM st)
            SELECT st.source,
                   CAST(sum(st.n_st) AS BIGINT) AS n_tokens,
                   round(sum((st.n_st / tots.n_s)
                         * ln((st.n_st / tots.n_s) / (ct.n_ct / tot.n_c))), 6)
                     AS kl_vs_corpus
            FROM st
            JOIN ct USING (term)
            JOIN tots USING (source)
            CROSS JOIN tot
            GROUP BY st.source
        """,
        # bloom membership — same md5-derived bit positions, the
        # all-k-bits-set probe replayed via left join + count
        "q_bloom": """
            WITH hashes AS (SELECT unnest(range(0, 4)) AS i),
            bits AS (
              SELECT DISTINCT
                     CAST(('0x' || substr(md5('b' || CAST(i AS VARCHAR) || '|'
                            || CAST(o_orderkey AS VARCHAR)), 9, 8))::UBIGINT
                          % 131072 AS BIGINT) AS bit
              FROM orders CROSS JOIN hashes
              WHERE o_orderkey % 3 <> 0
            ),
            probes AS (SELECT DISTINCT o_orderkey FROM orders),
            pb AS (
              SELECT o_orderkey, i,
                     CAST(('0x' || substr(md5('b' || CAST(i AS VARCHAR) || '|'
                            || CAST(o_orderkey AS VARCHAR)), 9, 8))::UBIGINT
                          % 131072 AS BIGINT) AS bit
              FROM probes CROSS JOIN hashes
            ),
            verdicts AS (
              SELECT pb.o_orderkey,
                     count(bits.bit) = 4 AS maybe_present
              FROM pb LEFT JOIN bits USING (bit)
              GROUP BY 1
            )
            SELECT o_orderkey,
                   o_orderkey % 3 <> 0 AS actually_stored,
                   maybe_present,
                   maybe_present AND o_orderkey % 3 = 0 AS is_fp
            FROM verdicts
        """,
        # cohort retention — distinct-day activity, per-user min
        # cohort day, exact integer retention (n*10000 // size / 100)
        "q_retention": """
            WITH activity AS (
              SELECT DISTINCT user_id,
                     CAST(date_trunc('day', ts) AS DATE) AS aday
              FROM events
            ),
            first AS (
              SELECT user_id, min(aday) AS cohort_day FROM activity GROUP BY 1
            ),
            joined AS (
              SELECT a.user_id, f.cohort_day,
                     CAST(date_diff('day', f.cohort_day, a.aday) AS BIGINT)
                       AS day_offset
              FROM activity a JOIN first f USING (user_id)
            ),
            counts AS (
              SELECT cohort_day, day_offset,
                     CAST(count(*) AS BIGINT) AS n_users
              FROM joined GROUP BY 1, 2
            ),
            sizes AS (
              SELECT cohort_day, CAST(count(*) AS BIGINT) AS cohort_size
              FROM first GROUP BY 1
            )
            SELECT c.cohort_day, c.day_offset, c.n_users, s.cohort_size,
                   (c.n_users * 10000 // s.cohort_size) / 100.0 AS retention_pct
            FROM counts c JOIN sizes s USING (cohort_day)
        """,
        # ordered funnel — each step's earliest time strictly
        # after the user's previous-step time; exact integer
        # conversion arithmetic
        "q_funnel": """
            WITH v AS (
              SELECT user_id, min(ts) AS t FROM events
              WHERE event_type = 'view' GROUP BY 1
            ),
            c AS (
              SELECT e.user_id, min(e.ts) AS t
              FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t
              WHERE e.event_type = 'click' GROUP BY 1
            ),
            p AS (
              SELECT e.user_id, min(e.ts) AS t
              FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t
              WHERE e.event_type = 'purchase' GROUP BY 1
            ),
            rows_ AS (
              SELECT CAST(1 AS BIGINT) AS step_no, 'view' AS step,
                     CAST((SELECT count(*) FROM v) AS BIGINT) AS n_users
              UNION ALL
              SELECT 2, 'click', CAST((SELECT count(*) FROM c) AS BIGINT)
              UNION ALL
              SELECT 3, 'purchase', CAST((SELECT count(*) FROM p) AS BIGINT)
            )
            SELECT step_no, step, n_users,
                   CASE WHEN lag(n_users) OVER (ORDER BY step_no) IS NULL
                        THEN NULL
                        ELSE (n_users * 10000
                              // lag(n_users) OVER (ORDER BY step_no)) / 100.0
                   END AS conversion_pct
            FROM rows_
        """,
        # gap fill — per-type daily spine (generate_series) +
        # zero-fill + IGNORE NULLS LOCF window, same rounded daily sums
        "q_gap_fill": """
            WITH daily AS (
              SELECT event_type,
                     CAST(date_trunc('day', ts) AS DATE) AS day,
                     CAST(count(*) AS BIGINT) AS n,
                     round(sum(value), 2) AS sv
              FROM events
              WHERE event_id % 97 = 0
              GROUP BY 1, 2
            ),
            bounds AS (
              SELECT event_type, min(day) AS lo, max(day) AS hi
              FROM daily GROUP BY 1
            ),
            spine AS (
              SELECT event_type,
                     CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
                                                 CAST(hi AS TIMESTAMP),
                                                 INTERVAL 1 DAY)) AS DATE) AS day
              FROM bounds
            )
            SELECT s.event_type, s.day,
                   coalesce(d.n, 0) AS n_events,
                   last_value(d.sv IGNORE NULLS) OVER (
                     PARTITION BY s.event_type ORDER BY s.day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS sum_value_locf,
                   d.n IS NULL AS is_gap
            FROM spine s LEFT JOIN daily d USING (event_type, day)
        """,
        # SCD2 — lag change-compress, then version/lead windows
        # over the change rows; ties break on o_orderkey in BOTH
        # engines, both windows ordered by the raw timestamp
        "q_scd2": """
            WITH seq AS (
              SELECT o_custkey, o_orderkey, o_orderstatus, o_orderdate,
                     lag(o_orderstatus) OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey) AS prev
              FROM orders
            ),
            chg AS (
              SELECT * FROM seq
              WHERE prev IS NULL OR prev <> o_orderstatus
            )
            SELECT o_custkey AS custkey,
                   CAST(row_number() OVER w AS BIGINT) AS version,
                   o_orderstatus AS status,
                   CAST(o_orderdate AS DATE) AS valid_from,
                   CAST(lead(o_orderdate) OVER w AS DATE) AS valid_to,
                   lead(o_orderdate) OVER w IS NULL AS is_current
            FROM chg
            WINDOW w AS (PARTITION BY o_custkey
                         ORDER BY o_orderdate, o_orderkey)
        """,
        # FastSS fuzzy match — deletion-neighborhood keys replayed
        # via range+substr, DISTINCT candidate pairs, levenshtein
        # verify in both engines
        "q_fuzzy_match": """
            WITH k AS (
              SELECT c_custkey, c_name,
                     unnest(list_distinct(list_append(
                       list_transform(range(1, len(c_name) + 1),
                         i -> substr(c_name, 1, i - 1)
                              || substr(c_name, i + 1, len(c_name))),
                       c_name))) AS key
              FROM customer
            ),
            cand AS (
              SELECT DISTINCT a.c_custkey AS cust_a, b.c_custkey AS cust_b,
                              a.c_name AS name_a, b.c_name AS name_b
              FROM k a JOIN k b USING (key)
              WHERE a.c_custkey < b.c_custkey
            )
            SELECT cust_a, cust_b, name_a, name_b,
                   CAST(levenshtein(name_a, name_b) AS BIGINT) AS distance
            FROM cand
            WHERE levenshtein(name_a, name_b) <= 1
        """,
        # TF-IDF — same tokenizer as the bm25 oracle, smooth-idf
        # formula replayed in the same op order, per-doc top-5 window
        "q_tfidf": r"""
            WITH toked AS (
              SELECT doc_id,
                     unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                        t -> t <> '')) AS term
              FROM documents
            ),
            tf AS (
              SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
              FROM toked GROUP BY doc_id, term
            ),
            dft AS (
              SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
            ),
            n AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM toked),
            scored AS (
              SELECT doc_id, term, tf,
                     round(tf * (ln((1.0 + n_docs) / (1.0 + df)) + 1.0), 6)
                       AS tfidf
              FROM tf JOIN dft USING (term) CROSS JOIN n
            )
            SELECT doc_id, CAST(rn AS BIGINT) AS rank, term, tf, tfidf
            FROM (
              SELECT *, row_number() OVER (
                PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rn
              FROM scored
            ) WHERE rn <= 5
        """,
        # the mapInPandas fake-decode kernel is byte-deterministic, so
        # even the Python-kernel query has a SQL differential oracle
        "q_multimodal_features": r"""
            WITH b AS (
              SELECT doc_id, encode(text) AS blob FROM documents
            ),
            bytes AS (
              SELECT doc_id,
                     CAST(octet_length(blob) AS BIGINT) AS n_bytes,
                     list_transform(range(1, octet_length(blob) + 1),
                                    i -> CAST(('0x' || substring(to_hex(blob), 2*i-1, 2)) AS BIGINT)) AS bs
              FROM b
            ),
            lanes AS (
              SELECT doc_id, n_bytes,
                     list_transform(range(0, 8), j ->
                       (coalesce(list_sum(list_transform(range(j + 1, n_bytes + 1, 8),
                                                         i -> bs[CAST(i AS INT)])), 0) % 997) / 997.0
                     ) AS lane
              FROM bytes
            )
            SELECT doc_id AS media_id,
                   'image' AS modality,
                   n_bytes,
                   CAST(8 AS BIGINT) AS feature_dim,
                   printf('%.6f', sqrt(list_sum(list_transform(lane, v -> v * v)))) AS feature_l2
            FROM lanes
        """,
        "q_media_resize": r"""
            WITH b AS (
              SELECT doc_id, encode(text) AS blob FROM documents
            ),
            h AS (
              SELECT doc_id,
                     lower(to_hex(blob)) AS hx,
                     CAST(octet_length(blob) AS BIGINT) AS n_bytes
              FROM b
            ),
            s AS (
              SELECT doc_id, n_bytes,
                     CASE WHEN n_bytes > 0 THEN
                       array_to_string(list_transform(range(0, 64),
                         j -> substring(hx, 2 * CAST((j * n_bytes) // 64 AS INT) + 1, 2)), '')
                     ELSE '' END AS sampled_hex
              FROM h
            )
            SELECT doc_id AS media_id,
                   'image' AS modality,
                   n_bytes,
                   CAST(CASE WHEN n_bytes > 0 THEN 64 ELSE 0 END AS BIGINT) AS out_bytes,
                   md5(sampled_hex) AS resized_md5
            FROM s
            ORDER BY media_id
        """,
        "q_frame_sample": r"""
            WITH b AS (
              SELECT doc_id, encode(text) AS blob FROM documents
            ),
            h AS (
              SELECT doc_id,
                     lower(to_hex(blob)) AS hx,
                     CAST(octet_length(blob) AS BIGINT) AS n_bytes
              FROM b
            ),
            frames AS (
              SELECT doc_id, hx, n_bytes,
                     unnest(range(0, (n_bytes + 255) // 256, 2)) AS frame_no
              FROM h
            )
            SELECT doc_id AS media_id,
                   CAST(frame_no AS BIGINT) AS frame_no,
                   CAST(least(256, n_bytes - frame_no * 256) AS BIGINT) AS frame_bytes,
                   md5(substring(hx, 2 * CAST(frame_no * 256 AS INT) + 1,
                                 2 * CAST(least(256, n_bytes - frame_no * 256) AS INT)))
                     AS frame_md5
            FROM frames
            ORDER BY media_id, frame_no
        """,
        # the three dedup pipelines are declared in their portable md5
        # hash forms, so LSH blocking, Hamming verify, and the cluster
        # closure are all differentially checked (xxhash64 = perf path)
        "q_dedup_minhash": f"""
            WITH {_minhash_cands_cte()}
            SELECT c.doc_a, c.doc_b,
                   round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                         / len(list_distinct(sa.sh || sb.sh)), 6) AS jaccard
            FROM cands c
            JOIN shing sa ON sa.doc_id = c.doc_a
            JOIN shing sb ON sb.doc_id = c.doc_b
        """,
        "q_dedup_simhash": f"""
            WITH {_simhash_sigs_cte()},
            intra AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, 0::BIGINT AS hamming
              FROM sigs a JOIN sigs b ON a.sig = b.sig AND a.doc_id < b.doc_id
            ),
            banded AS (
              SELECT DISTINCT sig, b.band AS band,
                     ((sig >> (b.band * 16)) & 65535::UBIGINT) AS chunk
              FROM sigs CROSS JOIN (SELECT range AS band FROM range(4)) b
            ),
            sp AS (
              SELECT DISTINCT a.sig AS sig_a, b.sig AS sig_b
              FROM banded a JOIN banded b
                ON a.band = b.band AND a.chunk = b.chunk AND a.sig < b.sig
              WHERE bit_count(xor(a.sig, b.sig)) <= 3
            ),
            crossp AS (
              SELECT least(x.doc_id, y.doc_id) AS doc_a,
                     greatest(x.doc_id, y.doc_id) AS doc_b,
                     CAST(bit_count(xor(p.sig_a, p.sig_b)) AS BIGINT) AS hamming
              FROM sp p
              JOIN sigs x ON x.sig = p.sig_a
              JOIN sigs y ON y.sig = p.sig_b
            )
            SELECT doc_a, doc_b, hamming FROM intra
            UNION ALL
            SELECT doc_a, doc_b, hamming FROM crossp
        """,
        "q_dedup_clusters": f"""
            WITH RECURSIVE {_minhash_cands_cte()},
            edges2 AS (
              SELECT doc_a AS a, doc_b AS b FROM cands
              UNION
              SELECT doc_b AS a, doc_a AS b FROM cands
            ),
            reach(d, r) AS (
              SELECT a, a FROM edges2
              UNION
              SELECT e.a, reach.r FROM edges2 e JOIN reach ON e.b = reach.d
            ),
            cc AS (
              SELECT d AS doc_id, min(r) AS component_id FROM reach GROUP BY d
            ),
            alld AS (
              SELECT d.doc_id, coalesce(cc.component_id, d.doc_id) AS component_id
              FROM documents d LEFT JOIN cc ON d.doc_id = cc.doc_id
            )
            SELECT component_id,
                   count(*) AS cluster_size,
                   min(doc_id) AS keeper_doc_id
            FROM alld
            GROUP BY component_id
        """,
        # HTML extraction roundtrip: rebuild the exact page wrap_html
        # builds (escape order &, <, >) and replay html_extract's
        # chain — script/style elision, comment removal, tag→space,
        # entity decode (&amp; last), whitespace collapse. Java regex
        # and RE2 agree on every construct used.
        "q_html_extract": r"""
            WITH page AS (
              SELECT doc_id,
                     '<html><head><title>doc</title>'
                     || '<script type="text/javascript">if (a && b < 3) { go("x"); }</script>'
                     || '<style>p { color: #333; }</style></head>'
                     || '<body><h1>DOC ' || CAST(doc_id AS VARCHAR)
                     || '</h1><!-- crawler: drop this --><p>'
                     || replace(replace(replace(text, '&', '&amp;'),
                                        '<', '&lt;'), '>', '&gt;')
                     || '</p><div class="footer">SOURCE&nbsp;' || source
                     || '</div></body></html>' AS html
              FROM documents
            ),
            ext AS (
              SELECT doc_id, html,
                trim(regexp_replace(
                  replace(
                    replace(replace(replace(replace(replace(
                      regexp_replace(
                        regexp_replace(
                          regexp_replace(
                            regexp_replace(
                              regexp_replace(html,
                                '<head[^>]*>.*?</head>', ' ', 'gis'),
                              '<script[^>]*>.*?</script>', ' ', 'gis'),
                            '<style[^>]*>.*?</style>', ' ', 'gis'),
                          '<!--.*?-->', ' ', 'gs'),
                        '<[^>]+>', ' ', 'g'),
                      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                      '&#39;', ''''), '&nbsp;', ' '),
                    '&amp;', '&'),
                  '\s+', ' ', 'g')) AS extracted
              FROM page
            )
            SELECT doc_id,
                   md5(extracted) AS text_md5,
                   CAST(length(html) AS BIGINT) AS n_html_chars,
                   CAST(length(extracted) AS BIGINT) AS n_text_chars,
                   round(length(extracted) / length(html), 6) AS text_ratio
            FROM ext
        """,
        # URL dedup: rebuild the deterministic messy-variant frontier
        # and replay normalize_url's rule chain step for step (RE2
        # lookaround-free by construction; \2 backref is DuckDB's $2).
        "q_url_dedup": r"""
            WITH urls AS (
              SELECT doc_id,
                     (['https://','HTTP://WWW.','http://','https://www.'])
                       [CAST(doc_id % 4 AS INT) + 1]
                     || upper(source) || '.example.com'
                     || CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END
                     || '/Docs/page-' || CAST(doc_id % 50 AS VARCHAR)
                     || (['','?utm_source=feed&utm_campaign=x','#section-2','/',
                          '?utm_medium=rss&page=2'])
                       [CAST((doc_id // 4) % 5 AS INT) + 1] AS u
              FROM documents
            ),
            n1 AS (SELECT doc_id,
                     regexp_replace(trim(u), '#.*$', '') AS s FROM urls),
            n2 AS (SELECT doc_id,
                     lower(regexp_extract(s, '(?i)^(https?://[^/?#]*)', 1))
                     || regexp_replace(s, '(?i)^https?://[^/?#]*', '') AS s
                   FROM n1),
            n3 AS (SELECT doc_id,
                     regexp_replace(
                       regexp_replace(s, '^http://', 'https://'),
                       '^https://www\.', 'https://') AS s FROM n2),
            n4 AS (SELECT doc_id,
                     regexp_replace(s, ':(80|443)(/|$)', '\2', 'g') AS s FROM n3),
            n5 AS (SELECT doc_id,
                     regexp_replace(s,
                       '[?&](utm_[^&#=]*|fbclid|gclid)(=[^&#]*)?', '', 'g')
                     AS s FROM n4),
            n6 AS (SELECT doc_id,
                     regexp_replace(
                       regexp_replace(
                         regexp_replace(
                           regexp_replace(s, '^([^?&]*)&', '\1?'),
                           '\?&', '?'),
                         '[?&]$', ''),
                       '/$', '') AS s FROM n5)
            SELECT s AS canonical_url,
                   CAST(count(*) AS BIGINT) AS n_dups,
                   min(doc_id) AS keeper_doc_id
            FROM n6
            GROUP BY s
        """,
        # dataset-card stats: same whitespace tokenization as the
        # token-count oracle; exact interpolated percentiles
        # (quantile_cont == Spark percentile); share window over the
        # aggregated frame
        "q_corpus_stats": f"""
            WITH per_doc AS (
              SELECT source, lang,
                     CAST(len({toks}) AS BIGINT) AS n_tokens,
                     CAST(length(text) AS BIGINT) AS n_chars
              FROM documents
            ),
            agg AS (
              SELECT source,
                     CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
                     CAST(sum(n_chars) AS BIGINT) AS total_chars,
                     CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
                     round(quantile_cont(n_tokens, 0.5), 4) AS p50_tokens,
                     round(quantile_cont(n_tokens, 0.9), 4) AS p90_tokens
              FROM per_doc
              GROUP BY source
            )
            SELECT *,
                   round(total_tokens / sum(total_tokens) OVER (), 6)
                     AS token_share
            FROM agg
        """,
        # bigram-interpolated LM: counts + float chain replayed in the
        # same op order as text.q_lm_bigram_perplexity
        "q_lm_bigram_perplexity": f"""
            WITH tk AS (SELECT doc_id, {toks} AS t FROM documents),
            ne AS (SELECT * FROM tk WHERE len(t) > 0),
            uc AS (
              SELECT tok, CAST(count(*) AS BIGINT) AS uc
              FROM (SELECT unnest(t) AS tok FROM ne)
              GROUP BY tok
            ),
            up AS (
              SELECT tok,
                     CAST(uc AS DOUBLE)
                     / (SELECT CAST(sum(uc) AS DOUBLE) FROM uc) AS p_uni
              FROM uc
            ),
            bg AS (
              SELECT doc_id,
                     struct_extract(b, 'w1') AS w1,
                     struct_extract(b, 'w2') AS w2
              FROM (
                SELECT doc_id,
                       unnest(list_transform(range(1, len(t)),
                              i -> {{'w1': t[i], 'w2': t[i + 1]}})) AS b
                FROM ne
              )
            ),
            bc AS (
              SELECT w1, w2, CAST(count(*) AS BIGINT) AS bc
              FROM bg GROUP BY w1, w2
            ),
            hist AS (
              SELECT w1, CAST(sum(bc) AS BIGINT) AS hc FROM bc GROUP BY w1
            ),
            bprob AS (
              SELECT bc.w1, bc.w2,
                     -ln(0.7 * (CAST(bc.bc AS DOUBLE) / CAST(hist.hc AS DOUBLE))
                         + 0.3 * up.p_uni) AS nll
              FROM bc
              JOIN hist ON bc.w1 = hist.w1
              JOIN up ON bc.w2 = up.tok
            ),
            big_doc AS (
              SELECT bg.doc_id,
                     CAST(count(*) AS BIGINT) AS n_bigrams,
                     sum(nll) AS sum_nll
              FROM bg JOIN bprob ON bg.w1 = bprob.w1 AND bg.w2 = bprob.w2
              GROUP BY bg.doc_id
            ),
            firsts AS (
              SELECT ne.doc_id, t[1] AS tok,
                     CAST(len(t) AS BIGINT) AS n_tokens
              FROM ne
            ),
            per_doc AS (
              SELECT f.doc_id, f.n_tokens,
                     round((-ln(up.p_uni) + coalesce(bd.sum_nll, 0.0))
                           / CAST(f.n_tokens AS DOUBLE), 6) AS avg_nll
              FROM firsts f
              JOIN up ON f.tok = up.tok
              LEFT JOIN big_doc bd ON f.doc_id = bd.doc_id
            )
            SELECT doc_id, n_tokens, avg_nll,
                   round(exp(avg_nll), 4) AS perplexity,
                   CAST(ntile(3) OVER (ORDER BY avg_nll ASC, doc_id ASC)
                        AS BIGINT) AS ppl_bucket
            FROM per_doc
        """,
        # embedding pooling: DuckDB reduces per-dimension (unnest +
        # subscripts + ordered list()); Spark folds arrays in the agg
        # buffer — same math via structurally different plans, with an
        # md5 over all 64 formatted dims checking every element
        "q_embedding_pool": """
            WITH d AS (
              SELECT label, i, avg(e) AS m
              FROM (SELECT label,
                           unnest(CAST(embedding AS DOUBLE[])) AS e,
                           generate_subscripts(CAST(embedding AS DOUBLE[]), 1) AS i
                    FROM embeddings)
              GROUP BY label, i
            ),
            agg AS (
              SELECT label, list(m ORDER BY i) AS mean_emb FROM d GROUP BY label
            ),
            n AS (
              SELECT label, CAST(count(*) AS BIGINT) AS n
              FROM embeddings GROUP BY label
            )
            SELECT n.label, n.n,
                   round(list_dot_product(mean_emb, mean_emb), 6) AS sq_norm,
                   md5(list_aggregate(
                     list_transform(mean_emb, x -> format('{:.6f}', x)),
                     'string_agg', ',')) AS mean_md5
            FROM agg JOIN n USING (label)
        """,
        # hybrid retrieval: both rankers + both rank assignments + the
        # RRF arithmetic replayed end to end (C=60, top-50 per side)
        "q_hybrid_search": r"""
            WITH toked AS (
              SELECT doc_id,
                     unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                        t -> t <> '')) AS term
              FROM documents
            ),
            tf AS (
              SELECT doc_id, term, count(*) AS tf FROM toked GROUP BY doc_id, term
            ),
            doclen AS (
              SELECT doc_id, count(*) AS dl FROM toked GROUP BY doc_id
            ),
            stats AS (
              SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM doclen
            ),
            df AS (
              SELECT term, count(*) AS df FROM tf
              WHERE term IN ('hash', 'join', 'vector')
              GROUP BY term
            ),
            idf AS (
              SELECT term,
                     ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) AS idf,
                     avgdl
              FROM df CROSS JOIN stats
            ),
            sparse AS (
              SELECT tf.doc_id,
                     round(sum(idf * (tf * 2.2)
                               / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 4) AS bm25
              FROM tf
              JOIN doclen ON tf.doc_id = doclen.doc_id
              JOIN idf ON tf.term = idf.term
              WHERE tf.term IN ('hash', 'join', 'vector')
              GROUP BY tf.doc_id
              ORDER BY bm25 DESC, tf.doc_id ASC
              LIMIT 50
            ),
            probe AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
            dense AS (
              SELECT e.vec_id AS doc_id,
                     round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                                  CAST(p.embedding AS DOUBLE[])), 6)
                       AS cosine
              FROM embeddings e, probe p
              WHERE e.vec_id <> 0
              ORDER BY cosine DESC, e.vec_id ASC
              LIMIT 50
            ),
            s AS (
              SELECT doc_id, bm25,
                     row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS r_s
              FROM sparse
            ),
            d AS (
              SELECT doc_id, cosine,
                     row_number() OVER (ORDER BY cosine DESC, doc_id ASC) AS r_d
              FROM dense
            )
            SELECT COALESCE(s.doc_id, d.doc_id) AS doc_id, s.bm25, d.cosine,
                   round(coalesce(1.0 / (60.0 + r_s), 0.0)
                         + coalesce(1.0 / (60.0 + r_d), 0.0), 6) AS rrf
            FROM s FULL OUTER JOIN d ON s.doc_id = d.doc_id
            ORDER BY rrf DESC, doc_id ASC
            LIMIT 10
        """,
        # semantic decontamination: both sides' SRP blocking, the
        # cross-side candidate join, cosine verify and the per-train
        # argmax replayed from the same hyperplane constants
        # blocking is OR-ed LSH bands sized to the threshold
        # (srp_band_count(0.30, 2, 0.95) = 7 bands of 2 planes);
        # multi-band duplicate candidates dedup through the argmax —
        # SELECT DISTINCT in scored mirrors row_number absorbing them
        "q_semantic_decontaminate": f"""
            WITH t AS (
              SELECT vec_id, embedding,
                     {_decon_bands_sql('embedding')} AS sigs
              FROM embeddings WHERE vec_id % 10 <> 0
            ),
            tb AS (
              SELECT vec_id, embedding,
                     unnest(sigs) AS bsig,
                     generate_subscripts(sigs, 1) AS band
              FROM t
            ),
            e AS (
              SELECT vec_id AS eval_id, embedding AS eval_emb,
                     {_decon_bands_sql('embedding')} AS sigs
              FROM embeddings WHERE vec_id % 10 = 0
            ),
            eb AS (
              SELECT eval_id, eval_emb,
                     unnest(sigs) AS bsig,
                     generate_subscripts(sigs, 1) AS band
              FROM e
            ),
            scored AS (
              SELECT DISTINCT tb.vec_id, eb.eval_id,
                     round(list_cosine_similarity(
                       CAST(tb.embedding AS DOUBLE[]),
                       CAST(eb.eval_emb AS DOUBLE[])), 6) AS cosine
              FROM tb JOIN eb USING (band, bsig)
            ),
            flagged AS (SELECT * FROM scored WHERE cosine >= 0.30)
            SELECT vec_id, eval_id, cosine AS max_cosine
            FROM (
              SELECT *, row_number() OVER (
                PARTITION BY vec_id ORDER BY cosine DESC, eval_id ASC) AS rn
              FROM flagged
            ) WHERE rn = 1
        """,
    }
