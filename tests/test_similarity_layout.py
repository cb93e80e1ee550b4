"""Ingest-time similarity layout: the materialized SRP/IVF partition
layout must (a) return exactly the same top-k as the on-the-fly
operators and (b) prune the scan to the probe's partitions — the
executable form of the ANN "computed at ingest, partition-pruned"
scale story."""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from node_js_etl_processor_spark.catalog import load_table
from node_js_etl_processor_spark.operators.similarity import (
    _probe_vector,
    _srp_hyperplanes,
    ivf_topk,
    probe_cell_set,
    probe_signature_set,
    srp_bucket_topk,
    srp_signature,
)
from node_js_etl_processor_spark.sources.similarity_layout import (
    ann_probe,
    ivf_probe,
    write_ann_layout,
)


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_ann_layout_matches_and_prunes(spark, sf_dir, tmp_path):
    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "sim")
    write_ann_layout(emb, path)
    probe = _probe_vector(emb, 0)

    got = [tuple(r) for r in ann_probe(spark, path, probe, k=10, exclude_vec_id=0).collect()]
    want = [tuple(r) for r in srp_bucket_topk(emb, probe, k=10, exclude_vec_id=0).collect()]
    assert got == want and len(got) > 0

    # the multiprobe signature set must arrive as a PartitionFilters
    # entry (directory pruning), NOT a post-scan row filter, and the
    # scan must not re-read/recompute signatures (sig is a partition
    # column, absent from ReadSchema)
    probe_sigs = probe_signature_set(probe)
    cand = spark.read.parquet(f"{path}/by_sig").filter(F.col("sig").isin(probe_sigs))
    plan = _plan(cand)
    pf = plan.split("PartitionFilters:")[1].split("\n")[0]
    assert "sig" in pf
    read_schema = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "sig" not in read_schema

    # pruning selects a strict subset of the data: exactly the vectors
    # whose ingest-time signature is in the probe set
    planes = _srp_hyperplanes(8)
    sigged = emb.withColumn("s", srp_signature(F.col("embedding"), planes))
    expected_n = sigged.filter(F.col("s").isin(probe_sigs)).count()
    assert cand.count() == expected_n < emb.count()


def test_ivf_layout_matches_and_prunes(spark, sf_dir, tmp_path):
    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "sim")
    write_ann_layout(emb, path)
    probe = _probe_vector(emb, 0)

    got = [tuple(r) for r in ivf_probe(spark, path, probe, k=10, exclude_vec_id=0).collect()]
    want = [tuple(r) for r in ivf_topk(emb, probe, k=10, exclude_vec_id=0).collect()]
    assert got == want and len(got) > 0

    cells = probe_cell_set(probe)
    cand = spark.read.parquet(f"{path}/by_cell").filter(F.col("cell").isin(cells))
    plan = _plan(cand)
    pf = plan.split("PartitionFilters:")[1].split("\n")[0]
    assert "cell" in pf
    # 2 of 8 cells probed → strictly fewer rows than the table
    assert 0 < cand.count() < emb.count()


def test_layout_write_is_one_file_per_partition_dir(spark, sf_dir, tmp_path):
    # repartition(key) before partitionBy(key) bounds the small-file
    # count at O(directories), not O(tasks × directories)
    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "sim")
    write_ann_layout(emb, path)
    import glob

    for sub, key in (("by_sig", "sig"), ("by_cell", "cell")):
        dirs = glob.glob(f"{path}/{sub}/{key}=*")
        assert len(dirs) > 1
        for d in dirs:
            files = glob.glob(f"{d}/*.parquet")
            assert len(files) == 1, f"{d} has {len(files)} files"


def test_dedup_embedding_from_layout_matches_and_skips_recompute(
    spark, sf_dir, tmp_path
):
    """The layout-fed dedup must return exactly the on-the-fly
    q_dedup_embedding pairs, and its plan must contain NO signature
    recomputation — the sig arrives from the partition directory
    (absent from ReadSchema), and no hyperplane aggregate expressions
    appear anywhere in the plan."""
    from node_js_etl_processor_spark.operators.similarity import q_dedup_embedding
    from node_js_etl_processor_spark.sources.similarity_layout import (
        dedup_embedding_from_layout,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "sim")
    write_ann_layout(emb, path)

    got = [tuple(r) for r in dedup_embedding_from_layout(spark, path).collect()]
    want = [tuple(r) for r in q_dedup_embedding(emb).collect()]
    assert got == want and len(got) > 0

    plan = _plan(dedup_embedding_from_layout(spark, path))
    # sig is served by the directory layout, not read or recomputed
    for read_schema in plan.split("ReadSchema:")[1:]:
        assert "sig" not in read_schema.split("\n")[0]
    # the srp projection would show up as shiftleft over aggregate()
    # folds; the only aggregate() allowed here is the cosine scoring
    assert "shiftleft" not in plan


def test_ivfpq_probe_adc_codes_only_scan(spark, sf_dir, tmp_path):
    """IVFADC over the layout: (a) ADC results from STORED residual
    codes equal the inline residual encode+score path
    (ivfpq_adc_topk); (b) the ADC scan reads (vec_id, codes) only —
    the embedding column must be absent from ReadSchema (the
    4-bytes-per-vector read IS the operator's point) and the cell
    filter must be a PartitionFilters entry (cell itself comes from
    directory names, not file bytes); (c) exact rescore returns the
    true cosine order of the ADC shortlist."""
    from node_js_etl_processor_spark.operators.similarity import (
        ivfpq_adc_topk,
        score_topk,
    )
    from node_js_etl_processor_spark.sources.similarity_layout import ivfpq_probe

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "sim")
    write_ann_layout(emb, path)
    probe = _probe_vector(emb, 0)

    want = [
        tuple(r)
        for r in ivfpq_adc_topk(emb, probe, k=10, exclude_vec_id=0).collect()
    ]
    got_df = ivfpq_probe(spark, path, probe, k=10, exclude_vec_id=0)
    got = [tuple(r) for r in got_df.collect()]
    assert got == want and len(got) == 10

    plan = _plan(got_df)
    scan = plan.split("Scan parquet")[-1]  # the detail block, not the tree line
    read_schema = scan.split("ReadSchema:")[1].split("\n")[0]
    assert "codes" in read_schema and "embedding" not in read_schema
    pf = scan.split("PartitionFilters:")[1].split("\n")[0]
    assert "cell" in pf

    # rescore tail: big enough shortlist ⇒ exact top-k of the probed
    # cells, identical to the embedding-scoring layout probe
    rescored = [
        tuple(r)
        for r in ivfpq_probe(
            spark, path, probe, k=10, rescore=20, exclude_vec_id=0
        ).collect()
    ]
    exact = [
        tuple(r)
        for r in ivf_probe(spark, path, probe, k=10, exclude_vec_id=0).collect()
    ]
    assert rescored == exact


def test_ivfpq_probe_recall_gate(spark, sf_dir, tmp_path):
    """Recall@10 gate for the production ANN path (stored residual
    codes → ADC → optional exact rescore), END TO END against the full
    exact scan — so cell-pruning loss is included, unlike the
    ADC-quality tests. Deterministic (seed quantizers, fixed probes):
    measured 12/80 ADC-only and 23/80 with rescore=4 on the fixture.
    Gates: rescore must strictly improve on ADC-only (the shortlist
    mechanism works), and both must clear non-trivial floors. The
    cell-pruning ceiling (exact scoring of the probed cells) is what
    rescore converges to — pinned by test_ivfpq_probe_adc_codes_only_
    scan; numbers recorded in SCALE.md."""
    from node_js_etl_processor_spark.operators.similarity import (
        _probe_vector,
        brute_force_topk,
    )
    from node_js_etl_processor_spark.sources.similarity_layout import ivfpq_probe

    emb = load_table(spark, sf_dir, "embeddings").cache()
    path = str(tmp_path / "sim")
    write_ann_layout(emb, path)

    adc_hits = rescore_hits = 0
    for pid in (0, 7, 23, 41, 77, 101, 150, 200):
        probe = _probe_vector(emb, pid)
        exact = {
            r["vec_id"]
            for r in brute_force_topk(emb, probe, k=10, exclude_vec_id=pid).collect()
        }
        adc = {
            r["vec_id"]
            for r in ivfpq_probe(spark, path, probe, k=10, exclude_vec_id=pid).collect()
        }
        rescored = {
            r["vec_id"]
            for r in ivfpq_probe(
                spark, path, probe, k=10, rescore=4, exclude_vec_id=pid
            ).collect()
        }
        adc_hits += len(adc & exact)
        rescore_hits += len(rescored & exact)
    assert rescore_hits > adc_hits, (rescore_hits, adc_hits)
    assert adc_hits >= 10, adc_hits
    assert rescore_hits >= 20, rescore_hits


def test_ivfpq_probe_recall_trained_beats_seed(spark, sf_dir, tmp_path):
    """The end-to-end stored-code probe, with a layout written
    from TRAINED quantizers (kmeans_train coarse + ivfpq_train
    residual codebooks — the production ingest path) — so the
    recall gate measures more than the seed regime the training
    machinery exists to escape.
    Gate: at matched knobs (default 2/8 cells, rescore=4), summed
    recall@10 over the same 8 probes must be >= the seed layout's,
    and the trained rescore form must clear the seed gate's floor.
    The fuller recall-vs-n_probe_cells curve is recorded in
    SCALE.md §ANN."""
    from node_js_etl_processor_spark.operators.similarity import (
        _probe_vector,
        brute_force_topk,
        ivfpq_train,
        kmeans_train,
    )
    from node_js_etl_processor_spark.sources.similarity_layout import ivfpq_probe

    emb = load_table(spark, sf_dir, "embeddings").cache()
    cents = kmeans_train(emb, 8, max_iters=4)
    cbs = ivfpq_train(emb, 8, centroids=cents, max_iters=4)
    seed_path = str(tmp_path / "seed")
    trained_path = str(tmp_path / "trained")
    write_ann_layout(emb, seed_path)
    write_ann_layout(emb, trained_path, centroids=cents, pq_codebooks=cbs)

    seed_hits = trained_hits = 0
    for pid in (0, 7, 23, 41, 77, 101, 150, 200):
        probe = _probe_vector(emb, pid)
        exact = {
            r["vec_id"]
            for r in brute_force_topk(emb, probe, k=10, exclude_vec_id=pid).collect()
        }
        seed = {
            r["vec_id"]
            for r in ivfpq_probe(
                spark, seed_path, probe, k=10, rescore=4, exclude_vec_id=pid
            ).collect()
        }
        trained = {
            r["vec_id"]
            for r in ivfpq_probe(
                spark,
                trained_path,
                probe,
                k=10,
                rescore=4,
                exclude_vec_id=pid,
                centroids=cents,
                pq_codebooks=cbs,
            ).collect()
        }
        seed_hits += len(seed & exact)
        trained_hits += len(trained & exact)
    print(f"IVFPQ_PROBE_RECALL@10x8: seed={seed_hits}/80 trained={trained_hits}/80")
    assert trained_hits >= seed_hits, (trained_hits, seed_hits)
    assert trained_hits >= 20, trained_hits


def test_embedding_delta_equals_batch_and_prunes_store(spark, sf_dir, tmp_path):
    """dedup_embedding_delta == q_dedup_embedding on the union,
    restricted to pairs touching the drop — and the layout scan is
    partition-pruned to the drop's sig directories with the drop side
    broadcast."""
    from node_js_etl_processor_spark.operators.similarity import q_dedup_embedding
    from node_js_etl_processor_spark.sources.similarity_layout import (
        dedup_embedding_delta,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    old = emb.filter(F.col("vec_id") % 5 != 0)
    new = emb.filter(F.col("vec_id") % 5 == 0)
    path = str(tmp_path / "sim")
    write_ann_layout(old, path)

    delta = dedup_embedding_delta(spark, new, path)
    got = {
        (min(r["vec_a"], r["vec_b"]), max(r["vec_a"], r["vec_b"]), r["cosine"])
        for r in delta.collect()
    }
    new_ids = {r["vec_id"] for r in new.select("vec_id").collect()}
    full = {
        (r["vec_a"], r["vec_b"], r["cosine"])
        for r in q_dedup_embedding(emb).collect()
        if r["vec_a"] in new_ids or r["vec_b"] in new_ids
    }
    assert got == full and len(got) > 0

    plan_buf = __import__("io").StringIO()
    with __import__("contextlib").redirect_stdout(plan_buf):
        delta.explain("formatted")
    plan = plan_buf.getvalue()
    assert "PartitionFilters" in plan and "sig" in plan.split("PartitionFilters")[1].split("\n")[0]
    assert "BroadcastHashJoin" in plan


def test_ivfpq_probe_multiprobe_recall_curve(spark, sf_dir, tmp_path):
    """The multiprobe recall CURVE (more than one measured point
    for the knob). Recall@10
    vs n_probe_cells ∈ {1,2,4,8} on the production path: TRAINED
    quantizers → stored residual codes → ADC → exact rescore.
    Measured (8 probes × k=10 = 80 possible hits) — sf0.01 /
    conftest fixture:

        n_probe  adc  rescore=4    bytes read (of probed layout)
           1      20    32 / 12      ~1/8 of cells
           2      24    39 / 26      ~2/8   <- default: best marginal
           4      24    44 / 43      ~4/8      recall per probed cell
           8      26    50 / 53      all cells (pruning off)

    Gates are structural (hold under fixture regeneration): rescore
    recall is non-decreasing in n_probe_cells, rescore beats ADC-only
    at every point, widening 1→8 buys a real gain, and the default
    point clears a floor. The table + the default-choice rationale
    live in SCALE.md §ANN."""
    from node_js_etl_processor_spark.operators.similarity import (
        _probe_vector,
        brute_force_topk,
        ivfpq_train,
        kmeans_train,
    )
    from node_js_etl_processor_spark.sources.similarity_layout import ivfpq_probe

    emb = load_table(spark, sf_dir, "embeddings").cache()
    cents = kmeans_train(emb, 8, max_iters=4)
    cbs = ivfpq_train(emb, 8, centroids=cents, max_iters=4)
    path = str(tmp_path / "trained")
    write_ann_layout(emb, path, centroids=cents, pq_codebooks=cbs)

    pids = (0, 7, 23, 41, 77, 101, 150, 200)
    exact = {}
    for pid in pids:
        probe = _probe_vector(emb, pid)
        exact[pid] = {
            r["vec_id"]
            for r in brute_force_topk(emb, probe, k=10, exclude_vec_id=pid).collect()
        }

    def recall(n_probe, rescore):
        hits = 0
        for pid in pids:
            probe = _probe_vector(emb, pid)
            got = {
                r["vec_id"]
                for r in ivfpq_probe(
                    spark,
                    path,
                    probe,
                    k=10,
                    n_probe_cells=n_probe,
                    rescore=rescore,
                    exclude_vec_id=pid,
                    centroids=cents,
                    pq_codebooks=cbs,
                ).collect()
            }
            hits += len(got & exact[pid])
        return hits

    curve = {np_: recall(np_, 4) for np_ in (1, 2, 4, 8)}
    adc_ends = {np_: recall(np_, None) for np_ in (1, 8)}
    print(f"IVFPQ_MULTIPROBE_CURVE rescore4={curve} adc={adc_ends}")
    vals = [curve[n] for n in (1, 2, 4, 8)]
    assert vals == sorted(vals), curve  # monotone in probed cells
    assert curve[8] >= curve[1] + 8, curve  # widening buys real recall
    assert curve[1] >= adc_ends[1] and curve[8] >= adc_ends[8]  # rescore helps
    assert adc_ends[8] >= adc_ends[1], adc_ends
    assert curve[2] >= 20, curve  # default-point floor (measured 39/26)


def test_append_ann_layout_equals_rebuild(spark, sf_dir, tmp_path):
    """Write(old) + append(new) must be probe-indistinguishable
    from write(old ∪ new) — for the IVFADC stored-code probe AND the
    sig-blocked dedup-from-layout — and the append must leave every
    pre-existing parquet file untouched (appends never read or
    rewrite)."""
    import os

    from node_js_etl_processor_spark.operators.similarity import _probe_vector
    from node_js_etl_processor_spark.sources.similarity_layout import (
        append_ann_layout,
        dedup_embedding_from_layout,
        ivfpq_probe,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    old = emb.filter(F.col("vec_id") % 4 != 0)
    new = emb.filter(F.col("vec_id") % 4 == 0)
    inc = str(tmp_path / "inc")
    full = str(tmp_path / "full")
    write_ann_layout(old, inc)

    before = {}
    for root, _d, files in os.walk(inc):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                before[p] = os.path.getmtime(p)

    append_ann_layout(new, inc)
    write_ann_layout(emb, full)

    for p, m in before.items():
        assert os.path.exists(p) and os.path.getmtime(p) == m, p

    probe = _probe_vector(emb, 0)
    got = [tuple(r) for r in ivfpq_probe(spark, inc, probe, k=10).collect()]
    want = [tuple(r) for r in ivfpq_probe(spark, full, probe, k=10).collect()]
    assert got == want and len(got) == 10

    got_pairs = {
        tuple(r) for r in dedup_embedding_from_layout(spark, inc).collect()
    }
    want_pairs = {
        tuple(r) for r in dedup_embedding_from_layout(spark, full).collect()
    }
    assert got_pairs == want_pairs and len(got_pairs) > 0


def test_ann_compaction_probe_identical(spark, sf_dir, tmp_path):
    """Append log -> compact_ann_layout must leave every probe
    family bit-identical (rows are per-vector facts; compaction is a
    pure file fold) with fewer files."""
    import os

    from node_js_etl_processor_spark.sources.similarity_layout import (
        append_ann_layout,
        ann_probe,
        compact_ann_layout,
        ivfpq_probe,
        write_ann_layout,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    src = str(tmp_path / "log")
    dst = str(tmp_path / "compact")
    write_ann_layout(emb.filter("vec_id % 2 = 0"), src)
    append_ann_layout(emb.filter("vec_id % 2 = 1"), src)
    compact_ann_layout(spark, src, dst)

    probe = emb.select("embedding").first()["embedding"]
    for fn in (
        lambda p: ann_probe(spark, p, probe, k=10),
        lambda p: ivfpq_probe(spark, p, probe, k=10),
    ):
        got = [tuple(r) for r in fn(dst).collect()]
        want = [tuple(r) for r in fn(src).collect()]
        assert got == want and len(got) == 10

    def n_files(p):
        return sum(
            1 for _r, _d, fs in os.walk(p) for f in fs if f.endswith(".parquet")
        )

    assert n_files(dst) < n_files(src)
