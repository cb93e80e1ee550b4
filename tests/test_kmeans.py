"""K-means training loop + Arrow-kernel parity (similarity module).

The Lloyd-step hot path runs as a fused mapInPandas kernel
(`_kmeans_partials_numpy`); the pure-Column form
(`_kmeans_partials_jvm`) is the bit-for-bit reference these tests pin
it against. `kmeans_train` is the driver loop whose output plugs into
`semdedup`/`ivf_assign` as a trained quantizer.
"""

from __future__ import annotations

import math

import pytest

from node_js_etl_processor_spark.catalog import load_table
from node_js_etl_processor_spark.operators import similarity as sim


@pytest.fixture(scope="module")
def embeddings(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


def test_kmeans_arrow_kernel_equals_jvm(embeddings):
    """The fused Arrow kernel must be bit-for-bit identical to the
    pure-Column reference: same cells, same counts, and EXACT equality
    on every quantized int64 sum (the cumsum-ordered dots make even the
    assignment argmax tie-stable across the two implementations)."""
    cents = sim._ivf_centroids(8)
    jvm = {
        r["cell"]: tuple(r)
        for r in sim._kmeans_partials_jvm(embeddings, cents).collect()
    }
    npk = {
        r["cell"]: tuple(r)
        for r in sim._kmeans_partials_numpy(embeddings, cents).collect()
    }
    assert jvm.keys() == npk.keys()
    for cell in jvm:
        assert jvm[cell] == npk[cell], f"cell {cell} partials differ"


def test_kmeans_step_kernel_flag_equivalent(embeddings):
    """The declared step (Arrow kernel) equals the pure-Column step
    row-for-row, shift included."""
    fast = [tuple(r) for r in sim.kmeans_step(embeddings).collect()]
    ref = [tuple(r) for r in sim.kmeans_step(embeddings, use_arrow_kernel=False).collect()]
    assert fast == ref


def test_kmeans_train_converges_and_improves(embeddings):
    """The driver loop must terminate, return k full-dimension
    centroids, and actually descend: a step from the TRAINED centroids
    must shift less than the first step from the seeds."""
    cents = sim.kmeans_train(embeddings, n_cells=8, max_iters=5, tol=1e-4)
    assert len(cents) == 8 and all(len(c) == sim.DIM for c in cents)
    assert all(all(math.isfinite(v) for v in c) for c in cents)
    seed_shift = max(
        r["shift"] for r in sim.kmeans_step(embeddings).collect()
    )
    trained_shift = max(
        r["shift"] for r in sim.kmeans_step(embeddings, centroids=cents).collect()
    )
    assert trained_shift < seed_shift


def test_semdedup_accepts_trained_centroids(embeddings):
    """The production path — semdedup over a kmeans_train quantizer —
    must run end-to-end, keep the declared schema, only emit pairs at
    or above threshold, and be deterministic across invocations."""
    cents = sim.kmeans_train(embeddings, n_cells=8, max_iters=3, tol=1e-4)
    out = sim.semdedup(embeddings, threshold=0.2, centroids=cents)
    rows = out.collect()
    assert out.columns == ["vec_id", "cell", "dup_of", "cosine"]
    assert all(r["cosine"] >= 0.2 for r in rows)
    assert all(r["dup_of"] < r["vec_id"] for r in rows)
    again = sim.semdedup(embeddings, threshold=0.2, centroids=cents).collect()
    assert rows == again


def test_semdedup_auto_sizes_cells(embeddings):
    """With neither centroids nor n_cells, semdedup must auto-size the
    cell count to ~sqrt(n) — the guard that keeps within-cell pair
    generation off the quadratic cliff at scale."""
    n = embeddings.count()
    expected_cells = max(8, math.isqrt(max(n - 1, 0)) + 1)
    out = sim.semdedup(embeddings, threshold=0.2)
    cells = [r["cell"] for r in out.select("cell").distinct().collect()]
    assert all(0 <= c < expected_cells for c in cells)
    # the declared fixed-8 form must find at least as many dups as the
    # finer auto-sized blocking (coarser cells => superset of pairs)
    fixed = sim.semdedup(embeddings, threshold=0.2, n_cells=8).count()
    assert out.count() <= fixed


def test_trained_centroids_thread_through_ivf_and_layout(
    spark, sf_dir, embeddings, tmp_path
):
    """A trained quantizer must produce IDENTICAL results via the
    on-the-fly path and the materialized layout path (write with
    centroids → probe with the same centroids), and a mismatched
    probe/layout centroid set is the caller's bug the docstrings warn
    about — here we only pin the matched path."""
    from node_js_etl_processor_spark.operators.similarity import (
        _probe_vector,
        ivf_topk,
    )
    from node_js_etl_processor_spark.sources.similarity_layout import (
        ivf_probe,
        write_ann_layout,
    )

    cents = sim.kmeans_train(embeddings, n_cells=8, max_iters=3, tol=1e-4)
    path = str(tmp_path / "sim_trained")
    write_ann_layout(embeddings, path, centroids=cents)
    probe = _probe_vector(embeddings, 0)

    got = [
        tuple(r)
        for r in ivf_probe(
            spark, path, probe, k=10, exclude_vec_id=0, centroids=cents
        ).collect()
    ]
    want = [
        tuple(r)
        for r in ivf_topk(
            embeddings, probe, k=10, exclude_vec_id=0, centroids=cents
        ).collect()
    ]
    assert got == want and len(got) == 10


def test_kmeans_train_on_sample(embeddings):
    """Sampled training (the 100 TB pattern) must converge to a usable
    quantizer: full-dim finite centroids whose one-step shift from the
    FULL corpus is below the seeds' shift (the sample estimates the
    same means)."""
    cents = sim.kmeans_train(
        embeddings, n_cells=8, max_iters=3, tol=1e-4, sample_fraction=0.5
    )
    assert len(cents) == 8 and all(len(c) == sim.DIM for c in cents)
    seed_shift = max(r["shift"] for r in sim.kmeans_step(embeddings).collect())
    sampled_shift = max(
        r["shift"] for r in sim.kmeans_step(embeddings, centroids=cents).collect()
    )
    assert sampled_shift < seed_shift


def test_pq_train_reduces_quantization_error(spark, sf_dir):
    """Trained PQ codebooks must reconstruct the corpus better than
    the deterministic seeds (lower total squared quantization error),
    and must thread through pq_encode end-to-end."""
    import numpy as np

    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.similarity import (
        PQ_SUB_DIM,
        _pq_codebooks,
        pq_encode,
        pq_train,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    seeds = _pq_codebooks()
    trained = pq_train(emb, max_iters=5)

    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in emb.collect()}

    def total_sqerr(cbs):
        codes = {r["vec_id"]: list(r["codes"])
                 for r in pq_encode(emb, codebooks=cbs).collect()}
        err = 0.0
        for vid, v in vecs.items():
            recon = np.concatenate([np.asarray(cbs[s][j])
                                    for s, j in enumerate(codes[vid])])
            err += float(((v - recon) ** 2).sum())
        return err

    e_seed, e_trained = total_sqerr(seeds), total_sqerr(trained)
    assert e_trained < e_seed
    # every trained codebook keeps the right geometry
    assert len(trained) == 8 and all(
        len(cb) == 16 and all(len(c) == PQ_SUB_DIM for c in cb) for cb in trained
    )


def test_pq_encode_kernels_bit_identical(spark, sf_dir):
    """The Arrow PQ-encode kernel must be BIT-IDENTICAL to the
    pure-Column reference form on the fixture — same codes, same
    packed values — for both the deterministic seed codebooks and a
    trained set (the kmeans-kernel parity discipline applied to
    encoding)."""
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.similarity import (
        pq_encode,
        pq_train,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    for cbs in (None, pq_train(emb, max_iters=2)):
        a = sorted(
            (r["vec_id"], tuple(r["codes"]), r["pq_code"])
            for r in pq_encode(emb, codebooks=cbs, use_arrow_kernel=True).collect()
        )
        b = sorted(
            (r["vec_id"], tuple(r["codes"]), r["pq_code"])
            for r in pq_encode(emb, codebooks=cbs, use_arrow_kernel=False).collect()
        )
        assert a == b and len(a) > 0


def test_pq_geometry_fails_loudly():
    """Non-default PQ geometry must raise, never silently truncate
    dimensions or overflow the 4-bit nibble packing."""
    import pytest

    from node_js_etl_processor_spark.operators.similarity import (
        DIM,
        _pq_cb_geometry,
        _pq_codebooks,
    )

    # valid alternate geometry: sub_dim derived as DIM // n_sub
    cbs = _pq_codebooks(n_sub=4, k=16)
    assert _pq_cb_geometry(cbs) == (4, DIM // 4)
    with pytest.raises(ValueError, match="4-bit"):
        _pq_codebooks(n_sub=8, k=32)  # overflows the nibble packing
    with pytest.raises(ValueError, match="DIM"):
        _pq_codebooks(n_sub=7)  # 7 does not tile 64
    with pytest.raises(ValueError, match="DIM"):
        _pq_codebooks(n_sub=8, sub_dim=4)  # explicit non-tiling sub_dim


def test_ivfpq_encode_kernels_bit_identical(spark, sf_dir):
    """The residual (IVFADC) encode path must keep the Arrow-kernel /
    pure-Column bit parity: same cells, same residual codes, same
    packed values — seed AND trained residual codebooks."""
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.similarity import (
        ivfpq_encode,
        ivfpq_train,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    for cbs in (None, ivfpq_train(emb, max_iters=2)):
        a = sorted(
            (r["vec_id"], r["cell"], tuple(r["codes"]), r["pq_code"])
            for r in ivfpq_encode(emb, codebooks=cbs, use_arrow_kernel=True).collect()
        )
        b = sorted(
            (r["vec_id"], r["cell"], tuple(r["codes"]), r["pq_code"])
            for r in ivfpq_encode(emb, codebooks=cbs, use_arrow_kernel=False).collect()
        )
        assert a == b and len(a) > 0


def test_ivfpq_residual_reconstruction_beats_raw(spark, sf_dir):
    """The §V mechanism on the fixture: with trained quantizers, the
    residual form's reconstruction centroid(cell) + q₂(y − centroid)
    must have LOWER total squared error than the raw form's q₂(y) —
    residual variance ≤ raw variance, so a trained codebook spends its
    codewords better. (The fixture embeddings are near-uniform random,
    so the effect is real but small here — ~6% measured; the RECALL
    consequence needs clustered data, covered by the next test.)"""
    import numpy as np

    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.similarity import (
        ivfpq_encode,
        ivfpq_train,
        kmeans_train,
        pq_encode,
        pq_train,
    )

    emb = load_table(spark, sf_dir, "embeddings").cache()
    cents = kmeans_train(emb, 8, max_iters=5)
    cbs_flat = pq_train(emb, max_iters=5)
    cbs_resid = ivfpq_train(emb, centroids=cents, max_iters=5)
    vecs = {r["vec_id"]: np.array(r["embedding"], float) for r in emb.collect()}
    cmat = np.asarray(cents)

    e_resid = 0.0
    for r in ivfpq_encode(emb, centroids=cents, codebooks=cbs_resid).collect():
        recon = cmat[r["cell"]] + np.concatenate(
            [np.asarray(cbs_resid[s][j]) for s, j in enumerate(r["codes"])]
        )
        e_resid += float(((vecs[r["vec_id"]] - recon) ** 2).sum())
    e_raw = 0.0
    for r in pq_encode(emb, codebooks=cbs_flat).collect():
        recon = np.concatenate(
            [np.asarray(cbs_flat[s][j]) for s, j in enumerate(r["codes"])]
        )
        e_raw += float(((vecs[r["vec_id"]] - recon) ** 2).sum())
    assert e_resid < e_raw, (e_resid, e_raw)


def test_ivfpq_residual_recall_beats_raw_on_clustered(spark):
    """The recall consequence of §V, in the regime it targets: on
    CLUSTERED data (where a coarse quantizer actually removes
    variance — the 100 TB embedding-corpus case), trained residual ADC
    must beat trained raw-vector ADC at recall@10
    against the exact scan of the same probed cells. Deterministic:
    fixed-seed generator, fixed probes; measured 28/80 vs 22/80."""
    import numpy as np
    from pyspark.sql import functions as F

    from node_js_etl_processor_spark.operators.similarity import (
        _probe_vector,
        ivf_assign,
        ivfpq_adc_topk,
        ivfpq_train,
        kmeans_train,
        pq_adc_topk,
        pq_train,
        probe_cell_set,
        score_topk,
    )

    rng = np.random.default_rng(0x5EED)
    centers = rng.normal(size=(8, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    pts = centers[np.arange(400) % 8] + 0.05 * rng.normal(size=(400, 64))
    cl = spark.createDataFrame(
        [(int(i), [float(x) for x in pts[i]], "c") for i in range(400)],
        "vec_id int, embedding array<double>, label string",
    ).cache()
    cents = kmeans_train(cl, 8, max_iters=5)
    cbs_flat = pq_train(cl, max_iters=5)
    cbs_resid = ivfpq_train(cl, centroids=cents, max_iters=5)

    raw_hits = resid_hits = 0
    for pid in range(8):
        probe = _probe_vector(cl, pid)
        cells = probe_cell_set(probe, 8, 2, centroids=cents)
        masked = ivf_assign(cl, 8, centroids=cents).filter(F.col("cell").isin(cells))
        exact = {
            r["vec_id"]
            for r in score_topk(masked, probe, k=10, exclude_vec_id=pid).collect()
        }
        raw = {
            r["vec_id"]
            for r in pq_adc_topk(
                masked.drop("cell"), probe, k=10, exclude_vec_id=pid, codebooks=cbs_flat
            ).collect()
        }
        resid = {
            r["vec_id"]
            for r in ivfpq_adc_topk(
                cl, probe, k=10, exclude_vec_id=pid, centroids=cents, codebooks=cbs_resid
            ).collect()
        }
        raw_hits += len(raw & exact)
        resid_hits += len(resid & exact)
    assert resid_hits > raw_hits, (resid_hits, raw_hits)
    assert resid_hits >= 24  # ≥0.3 mean recall@10 — non-trivial floor


def test_semantic_decontaminate_banded_recall(spark):
    """Regression: a single 8-plane-signature gate catches a
    pair at cosine 0.30 with probability ~(1-acos(0.3)/pi)^8 = 1.6%.
    The banded gate (srp_band_count(0.30) = 7 OR-ed 2-plane bands)
    must catch planted pairs just ABOVE threshold at ~the designed
    95% rate. Construction: per pair, train = cos(a)*eval +
    sin(a)*orthonormal-residual, so the pairwise cosine is exact by
    construction; unplanted decoys sit orthogonal."""
    import numpy as np

    assert sim.srp_band_count(0.30, 2, 0.95) == 7
    assert sim.srp_band_count(0.80, 2, 0.95) <= 4  # prunes hard at near-dup

    rng = np.random.default_rng(8)
    dim, n_pairs, target_cos = 64, 40, 0.35
    rows = []
    for i in range(n_pairs):
        e = rng.standard_normal(dim)
        e /= np.linalg.norm(e)
        u = rng.standard_normal(dim)
        u -= u.dot(e) * e
        u /= np.linalg.norm(u)
        t = target_cos * e + np.sqrt(1 - target_cos**2) * u
        # eval ids are %10==0 per the declared split convention; keep
        # that shape but call the operator on explicit frames
        rows.append((10 * i, [float(x) for x in e]))       # eval
        rows.append((10 * i + 1, [float(x) for x in t]))   # train, planted
    # orthogonal decoys: should survive the exact-cosine verify
    for j in range(20):
        d = rng.standard_normal(dim)
        rows.append((10 * j + 2, [float(x) for x in d / np.linalg.norm(d)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    train = df.filter("vec_id % 10 != 0")
    evals = df.filter("vec_id % 10 = 0")
    got = {r["vec_id"]: r for r in sim.semantic_decontaminate(train, evals).collect()}
    planted = [10 * i + 1 for i in range(n_pairs)]
    hits = sum(1 for v in planted if v in got)
    # theory: per-pair catch prob at cos 0.35 is 1-(1-p^2)^7 ~ 0.96;
    # 34/40 is a >5-sigma floor under that rate (deterministic given
    # the fixed seed, the floor just documents the margin)
    assert hits >= 34, hits
    # every flag the gate emits is a true >=-threshold pair (verify
    # step is exact cosine; banding costs recall only, never precision)
    for v, r in got.items():
        assert r["max_cosine"] >= 0.30
        assert v % 10 != 0
