"""Ingest-time similarity layouts: SRP-signature- and IVF-cell-
partitioned embedding tables.

The ANN/IVF operators (operators/similarity.py) document that at scale
the signature/cell is computed ONCE at ingest and the table is laid
out so a probe reads only its buckets' files. This module makes that
story executable instead of prose:

- ``write_ann_layout`` materializes the embeddings with their SRP
  signature, IVF cell AND PQ codes precomputed (the by_cell side is
  the IVFADC layout of Jégou et al. 2011 §V), Hive-directory-
  partitioned by each key (``by_sig/sig=<s>/``, ``by_cell/cell=<c>/``);
- ``ann_probe`` / ``ivf_probe`` read the layout back and filter on the
  partition column, so the multiprobe signature set (resp. probe
  cells) becomes a PartitionFilters entry on the scan — the file
  listing itself is restricted to the matching directories
  (plan-tested in tests/test_similarity_layout.py);
- ``ivfpq_probe`` is the IVFADC consumer: partition-pruned cells,
  ADC scoring from the STORED codes (the scan reads (vec_id, codes)
  only — the embedding column never deserializes; plan-tested), and
  an optional exact-rescore tail over the ADC shortlist.

At 100 TB with 8 planes: 256 signature directories of ~0.4% of the
corpus each; a multiprobe-1 probe reads 9 of them (~3.5% of the data,
and — just as important at that scale — ~3.5% of the file listing).
The same layout doubles as the pre-partitioned input for
signature-keyed dedup self-joins — ``dedup_embedding_from_layout``
below is that consumer (pair-identical to ``q_dedup_embedding``,
zero signature recomputation; both facts plan/value-tested).

The partitioned write itself is one narrow projection plus a
hash-partitioned shuffle write — exactly the ingest-side cost the
ANN docstrings assume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from node_js_etl_processor_spark.functions import barrier
from node_js_etl_processor_spark.operators.similarity import (
    _ivf_centroids,
    _pq_residual_codebooks,
    _srp_hyperplanes,
    ivfpq_cell_const,
    ivfpq_encode,
    pq_adc_score,
    probe_cell_set,
    probe_signature_set,
    score_topk,
    srp_signature,
)


def _ann_parts(
    embeddings: DataFrame,
    n_planes: int,
    n_cells: int,
    centroids: list[list[float]] | None,
    pq_codebooks: list[list[list[float]]] | None,
) -> dict:
    """Both layouts of one embedding batch as a ``markers.write_parts``
    layout — the one projection the batch build, the ad-hoc append
    and the ingest loop's staged publish share. by_cell carries the
    PQ codes too — the IVFADC layout (Jégou et al. 2011 §V): coarse
    cell for pruning, 4-bit RESIDUAL codes (y − centroid(cell), the
    published §V form — pass trained ``pq_codebooks`` from
    ``ivfpq_train`` in production) for scoring. Both quantizations
    are one fused narrow projection at ingest; an ADC probe then
    reads (vec_id, codes) from the matching cell directories only and
    never deserializes the embedding column."""
    planes = _srp_hyperplanes(n_planes)
    sigged = embeddings.withColumn("sig", srp_signature(F.col("embedding"), planes))
    celled = ivfpq_encode(
        embeddings, n_cells, centroids=centroids, codebooks=pq_codebooks
    )
    return {"by_sig": (sigged, "sig"), "by_cell": (celled, "cell")}


def write_ann_layout(
    embeddings: DataFrame,
    path: str,
    n_planes: int = 8,
    n_cells: int = 8,
    centroids: list[list[float]] | None = None,
    pq_codebooks: list[list[list[float]]] | None = None,
) -> None:
    """Materialize both similarity layouts under ``path`` (overwrite).

    ``centroids`` takes a trained coarse quantizer
    (``operators.similarity.kmeans_train`` output) for the by_cell
    layout — the production ingest path; the deterministic seeds remain
    the default for reproducible fixtures. Probes must use the SAME
    centroids (``ivf_probe(..., centroids=...)``), or cell choice and
    layout disagree.
    """
    from ..streaming.markers import write_parts

    write_parts(
        path, _ann_parts(embeddings, n_planes, n_cells, centroids, pq_codebooks)
    )


def append_ann_layout(
    embeddings: DataFrame,
    path: str,
    n_planes: int = 8,
    n_cells: int = 8,
    centroids: list[list[float]] | None = None,
    pq_codebooks: list[list[list[float]]] | None = None,
) -> None:
    """Ingest a NEW vector batch into an existing layout: the
    same signature/residual-code projections appended into the same
    sig/cell directories — vectors are per-row facts (no statistics to
    merge, unlike the BM25 df table), so an append is two O(|batch|)
    writes that never read or rewrite existing files. MUST be called
    with the SAME quantizer parameters the layout was written with
    (the probe contract, now also the ingest contract); batch vec_ids
    must be new to the layout. write(old) + append(new) ==
    write(old ∪ new) is test-pinned for both probe families.

    The append goes through ``markers.stage_and_publish`` under a
    random tag, so a crashed append never leaves half-published
    sig/cell rows: ``markers.recover_all_partial`` repairs it. The
    ingest loop (``streaming.dedup.embedding_applier``) publishes the
    same parts under its (checkpoint, batch_id) tag instead."""
    import uuid

    from ..streaming.markers import cleanup_staging, stage_and_publish

    tag = uuid.uuid4().hex[:12]
    stage_and_publish(
        path, tag, _ann_parts(embeddings, n_planes, n_cells, centroids, pq_codebooks)
    )
    cleanup_staging(path, tag)


def ann_probe(
    spark: SparkSession,
    path: str,
    probe: list[float],
    k: int = 10,
    n_planes: int = 8,
    exclude_vec_id: int | None = None,
) -> DataFrame:
    """Multiprobe SRP top-k over the materialized layout: the probe's
    signature set is computed driver-side and applied as a partition
    filter — no signature recomputation, no full scan."""
    probe_sigs = probe_signature_set(probe, n_planes)
    cand = spark.read.parquet(f"{path}/by_sig").filter(F.col("sig").isin(probe_sigs))
    return score_topk(cand, probe, k=k, exclude_vec_id=exclude_vec_id)


def dedup_embedding_from_layout(
    spark: SparkSession, path: str, threshold: float = 0.30
) -> DataFrame:
    """Embedding near-dup pairs fed from the materialized ``by_sig``
    layout — the ingest-time form of ``q_dedup_embedding``: the SRP
    signature column is READ, never recomputed (plan-tested: no
    hyperplane dot-product expressions anywhere in the plan), and
    because the layout was written repartitioned BY sig, the
    sig-keyed self-join's rows arrive already colocated.

    At 100 TB this is the difference between 2× evaluating an
    n_planes×DIM projection over the corpus per dedup run and reading
    a precomputed bigint — the layout is written once at ingest and
    amortized over every probe AND every dedup sweep.
    """
    from node_js_etl_processor_spark.functions.vector import cosine_similarity

    sigged = spark.read.parquet(f"{path}/by_sig").select("vec_id", "embedding", "sig")
    a = sigged.alias("a")
    b = sigged.alias("b")
    pairs = a.join(b, "sig").filter(F.col("a.vec_id") < F.col("b.vec_id"))
    scored = pairs.select(
        F.col("a.vec_id").alias("vec_a"),
        F.col("b.vec_id").alias("vec_b"),
        F.round(
            cosine_similarity(
                F.col("a.embedding").cast("array<double>"),
                F.col("b.embedding").cast("array<double>"),
            ),
            6,
        ).alias("cosine"),
    )
    return scored.filter(F.col("cosine") >= threshold).orderBy("vec_a", "vec_b")


def ivf_probe(
    spark: SparkSession,
    path: str,
    probe: list[float],
    k: int = 10,
    n_cells: int = 8,
    n_probe_cells: int = 2,
    exclude_vec_id: int | None = None,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF top-k over the materialized layout: nearest probe cells
    chosen driver-side, applied as a partition filter. Pass the SAME
    ``centroids`` the layout was written with (trained or seeds)."""
    cells = probe_cell_set(probe, n_cells, n_probe_cells, centroids=centroids)
    cand = spark.read.parquet(f"{path}/by_cell").filter(F.col("cell").isin(cells))
    return score_topk(cand, probe, k=k, exclude_vec_id=exclude_vec_id)


def ivfpq_probe(
    spark: SparkSession,
    path: str,
    probe: list[float],
    k: int = 10,
    n_cells: int = 8,
    n_probe_cells: int = 2,
    rescore: int | None = None,
    exclude_vec_id: int | None = None,
    centroids: list[list[float]] | None = None,
    pq_codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """IVFADC search over the materialized layout (Jégou et al. 2011
    §V): coarse cells prune the file listing (partition filter), then
    candidates are scored by ADC from the STORED residual codes —
    score = <probe, centroid(cell)> + Σ_s lut_s[code_s], the residual
    decomposition of ``operators.similarity.ivfpq_adc_topk`` (cell is
    the partition column, read from directory names, not file bytes).
    The scan reads (vec_id, cell, codes) only, never the embedding
    column (plan-tested), so the probe's byte cost is ~4 bytes/vector
    of the probed cells regardless of dimensionality.

    Pass the SAME ``centroids`` / ``pq_codebooks`` the layout was
    written with (``write_ann_layout``), or codes and luts disagree.

    ``rescore=R`` adds the standard exact-rescore tail: the top R·k
    ADC candidates (ids only) are joined back to the layout — same
    partition filter — and exactly cosine-scored; accuracy of the
    final top-k then depends on ADC only through shortlist membership.
    The rescore side selects every layout column except the code
    columns, so layouts without a label column work too.
    """
    cents = centroids if centroids is not None else _ivf_centroids(n_cells)
    cells = probe_cell_set(probe, n_cells, n_probe_cells, centroids=cents)
    layout = spark.read.parquet(f"{path}/by_cell").filter(F.col("cell").isin(cells))
    cand = layout.select("vec_id", "cell", "codes")
    if exclude_vec_id is not None:
        cand = cand.filter(F.col("vec_id") != exclude_vec_id)
    cbs = pq_codebooks if pq_codebooks is not None else _pq_residual_codebooks()
    adc_expr = ivfpq_cell_const(probe, cents) + pq_adc_score(
        F.col("codes"), probe, codebooks=cbs
    )
    adc = cand.select("vec_id", F.round(adc_expr, 6).alias("adc_dot"))
    if rescore is None:
        return adc.orderBy(F.col("adc_dot").desc(), F.col("vec_id").asc()).limit(k)
    shortlist = (
        adc.orderBy(F.col("adc_dot").desc(), F.col("vec_id").asc())
        .limit(rescore * k)
        .select("vec_id")
    )
    exact_cols = [c for c in layout.columns if c not in ("codes", "pq_code", "cell")]
    exact_side = layout.select(*exact_cols).join(
        F.broadcast(shortlist), "vec_id", "left_semi"
    )
    return score_topk(exact_side, probe, k=k, exclude_vec_id=exclude_vec_id)


def dedup_embedding_delta(
    spark: SparkSession,
    new_embs: DataFrame,
    path: str,
    threshold: float = 0.30,
    n_planes: int = 8,
) -> DataFrame:
    """Incremental embedding near-dup: a new embedding batch probed
    against the materialized ``by_sig`` layout — the SRP twin of
    ``dedup_store.dedup_simhash_delta``, completing the incremental-
    store family. Returns (vec_a, vec_b, cosine, pair_type) with
    pair_type ∈ {'new-old', 'new-new'}; vec_a is the new vector in
    new-old rows, vec_a < vec_b within new-new.

    Scale shape: only the DROP is sig-projected (its distinct sigs
    are a ≤2^n_planes-value driver round-trip — parameters, not
    data), and that sig set becomes a PARTITION FILTER on the layout
    scan, so the store side reads only the matching sig directories —
    the corpus's signatures are never recomputed and its untouched
    buckets are never even listed. The drop side is explicitly
    broadcast into the store join. Exact cosine verify fused in, same
    as the batch form (delta == batch restricted to pairs touching
    the drop; test-pinned)."""
    from node_js_etl_processor_spark.functions.vector import cosine_similarity

    planes = _srp_hyperplanes(n_planes)
    newsig = barrier.cut(
        new_embs.select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("embedding"),
            srp_signature(F.col("embedding"), planes).alias("sig"),
        ),
        "sources.similarity_layout.embedding_delta_sigs",
    )
    sig_vals = [r["sig"] for r in newsig.select("sig").distinct().collect()]
    store = (
        spark.read.parquet(f"{path}/by_sig")
        .filter(F.col("sig").isin(sig_vals))
        .select("vec_id", "embedding", "sig")
    )
    new_old = (
        store.join(
            F.broadcast(
                newsig.select(
                    F.col("vec_id").alias("new_id"),
                    F.col("embedding").alias("new_emb"),
                    "sig",
                )
            ),
            "sig",
        )
        .filter(F.col("new_id") != F.col("vec_id"))
        .select(
            F.col("new_id").alias("vec_a"),
            F.col("vec_id").alias("vec_b"),
            F.round(
                cosine_similarity(
                    F.col("new_emb"), F.col("embedding").cast("array<double>")
                ),
                6,
            ).alias("cosine"),
            F.lit("new-old").alias("pair_type"),
        )
        .filter(F.col("cosine") >= threshold)
    )
    a, b = newsig.alias("a"), newsig.alias("b")
    new_new = (
        a.join(b, "sig")
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(
                cosine_similarity(F.col("a.embedding"), F.col("b.embedding")),
                6,
            ).alias("cosine"),
            F.lit("new-new").alias("pair_type"),
        )
        .filter(F.col("cosine") >= threshold)
    )
    return new_old.unionByName(new_new).distinct()


def compact_ann_layout(spark: SparkSession, src: str, dst: str) -> None:
    """Rewrite an appended layout into a fresh compact one at ``dst``:
    rows are per-vector facts (nothing to merge), so compaction is a
    pure file fold — one file per sig/cell directory per shuffle
    partition instead of one per appended batch. Probe-identical to
    the source (test-pinned). Blue/green like ``compact_bm25_index``,
    with the same replay safety: unmarked partial publishes are
    purged before the fold and the applied markers travel to ``dst``
    so a repointed ingest stream keeps its re-delivery guards."""
    from ..streaming.markers import _listdir, _mkdirs, recover_all_partial

    recover_all_partial(src)
    for sub, key in (("by_sig", "sig"), ("by_cell", "cell")):
        spark.read.parquet(f"{src}/{sub}").repartition(key).write.mode(
            "overwrite"
        ).partitionBy(key).parquet(f"{dst}/{sub}")
    for name, is_dir in _listdir(f"{src}/_batches"):
        if is_dir:
            _mkdirs(f"{dst}/_batches/{name}")
