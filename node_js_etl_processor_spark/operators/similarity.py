"""Similarity search over embedding columns (north star).

Three tiers, all over ``embeddings(vec_id, embedding array<float>,
label)``:

1. **Brute-force exact top-k** against a probe vector — JVM-side
   zip_with/aggregate dot product + TakeOrderedAndProject. The
   correctness baseline; O(n·d) scan, no shuffle, embarrassingly
   parallel — at 100 TB it is bounded by scan bandwidth, which is the
   right baseline to beat.
2. **Random-hyperplane LSH (SRP) buckets** (Charikar STOC 2002 sign-
   random-projection; multiprobe per Lv et al., VLDB 2007) — sign-bit
   signature via deterministic pseudo-random hyperplanes, candidates
   restricted to the probe's bucket (± multiprobe). The scale path:
   touches only colliding partitions.
3. **IVF-style coarse quantization** (the inverted-file coarse layer of
   Jégou et al., "Product quantization for nearest neighbor search",
   TPAMI 2011) — assign each vector to the nearest of k deterministic
   centroids, search only the probe's nearest cells. Implemented as
   assignment + partition-pruned scan.
4. **Vectorized pandas_udf scoring** — Arrow-batched NumPy dot products
   for wide rescoring where BLAS beats codegen; used by the batch
   variant, never required for correctness.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from node_js_etl_processor_spark.functions import literals
from node_js_etl_processor_spark.functions.vector import cosine_similarity, dot, l2_norm

DIM = 64


def _probe_vector(embeddings: DataFrame, vec_id: int = 0) -> list[float]:
    """Fetch the probe embedding (single-row driver lookup, the one
    permissible collect — it is the query argument, not data)."""
    row = embeddings.filter(F.col("vec_id") == vec_id).select("embedding").head()
    if row is None:
        raise ValueError(f"probe vec_id={vec_id} not found")
    return [float(x) for x in row[0]]


def brute_force_topk(
    embeddings: DataFrame, probe: list[float], k: int = 10, exclude_vec_id: int | None = None
) -> DataFrame:
    """Exact cosine top-k via built-in array math.

    The probe is a literal array → constant-folded; scoring is one
    codegen'd projection; top-k is TakeOrderedAndProject (per-partition
    heaps, no global sort shuffle).
    """
    p = literals.lit([float(x) for x in probe])
    scored = embeddings.select(
        "vec_id",
        "label",
        F.round(cosine_similarity(F.col("embedding").cast("array<double>"), p), 6).alias(
            "cosine"
        ),
    )
    if exclude_vec_id is not None:
        scored = scored.filter(F.col("vec_id") != exclude_vec_id)
    return scored.orderBy(F.col("cosine").desc(), F.col("vec_id").asc()).limit(k)


def q_similarity_topk(embeddings: DataFrame, k: int = 10) -> DataFrame:
    """Declared query: exact top-k cosine neighbors of vec_id=0
    (rows-only correctness check per SURVEY §2b)."""
    probe = _probe_vector(embeddings, 0)
    return brute_force_topk(embeddings, probe, k=k, exclude_vec_id=0)


# ----------------------------------------------------- SRP-LSH (scale path)


def _srp_hyperplanes(n_planes: int, dim: int = DIM, seed: int = 0x5EED) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes from a splitmix64-style
    integer hash — reproducible across runs with no RNG state."""
    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            z = (seed + p * dim + d + 1) * 0x9E3779B97F4A7C15 % (1 << 64)
            z = (z ^ (z >> 30)) * 0xBF58476D1CE4E5B9 % (1 << 64)
            z = (z ^ (z >> 27)) * 0x94D049BB133111EB % (1 << 64)
            z ^= z >> 31
            # map to [-1, 1)
            row.append((z / float(1 << 63)) - 1.0)
        planes.append(row)
    return planes


def srp_signature(embedding: Column, planes: list[list[float]]) -> Column:
    """Sign-bit LSH signature packed into a bigint.

    Built as ONE fold over a single n_planes×DIM literal matrix rather
    than n_planes separate dot trees OR-ed together — same bits
    (``acc*2 + bit`` over the REVERSED plane list ≡ ``bit_i << i``),
    but one expression tree, so per-run analysis doesn't re-walk the
    literal matrix once per plane (see ivf_assign's note). The matrix
    is one SQL-text constant (``literals.lit``): one JVM call to build
    where one ``F.lit`` per element took 3.7k.
    """
    emb = embedding.cast("array<double>")
    plane_arr = literals.lit([[float(v) for v in p] for p in reversed(planes)])
    bits = F.transform(
        plane_arr,
        lambda p: F.when(dot(emb, p) >= 0, F.lit(1)).otherwise(F.lit(0)).cast("bigint"),
    )
    return F.aggregate(
        bits, F.lit(0).cast("bigint"), lambda acc, v: acc * F.lit(2).cast("bigint") + v
    )


def probe_signature_set(probe: list[float], n_planes: int = 8) -> list[int]:
    """Multiprobe signature set for a probe vector: its SRP signature
    plus every 1-bit flip (Lv et al. multiprobe LSH) — driver-side
    pure-python mirror of srp_signature; the probe is the query
    argument, not data."""
    planes = _srp_hyperplanes(n_planes)
    psig = 0
    for i, plane in enumerate(planes):
        s = sum(a * b for a, b in zip(probe, plane))
        if s >= 0:
            psig |= 1 << i
    return [psig] + [psig ^ (1 << i) for i in range(n_planes)]


def score_topk(
    cand: DataFrame, probe: list[float], k: int = 10, exclude_vec_id: int | None = None
) -> DataFrame:
    """Exact cosine scoring + top-k over a candidate frame: literal
    probe array (constant-folded), codegen'd projection,
    TakeOrderedAndProject — shared tail of every similarity query."""
    p = literals.lit([float(x) for x in probe])
    if exclude_vec_id is not None:
        cand = cand.filter(F.col("vec_id") != exclude_vec_id)
    # label is passed through when present, not required — layouts
    # written from a bare (vec_id, embedding) frame score fine
    id_cols = ["vec_id"] + (["label"] if "label" in cand.columns else [])
    return (
        cand.select(
            *id_cols,
            F.round(
                cosine_similarity(F.col("embedding").cast("array<double>"), p), 6
            ).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(k)
    )


def srp_bucket_topk(
    embeddings: DataFrame,
    probe: list[float],
    k: int = 10,
    n_planes: int = 8,
    exclude_vec_id: int | None = None,
) -> DataFrame:
    """Approximate top-k: score only vectors whose SRP signature is
    within Hamming distance 1 of the probe's (multiprobe LSH).

    Scale: the signature is computed once at ingest in real deployments
    (sources/similarity_layout.py materializes exactly that layout);
    the query then prunes to ~(1+n_planes)/2^n_planes of the data
    before any scoring.
    """
    planes = _srp_hyperplanes(n_planes)
    probe_sigs = probe_signature_set(probe, n_planes)
    sigged = embeddings.withColumn("sig", srp_signature(F.col("embedding"), planes))
    cand = sigged.filter(F.col("sig").isin(probe_sigs))
    return score_topk(cand, probe, k=k, exclude_vec_id=exclude_vec_id)


def q_similarity_ann(embeddings: DataFrame, k: int = 10) -> DataFrame:
    """Declared query: SRP-LSH approximate top-k for probe vec_id=0
    (fully oracle-checked: the deterministic hyperplanes are embedded
    in the DuckDB SQL, so the multiprobe blocking is differentially
    verified; recall vs exact additionally asserted in tests)."""
    probe = _probe_vector(embeddings, 0)
    return srp_bucket_topk(embeddings, probe, k=k, exclude_vec_id=0)


# ------------------------------------------------- embedding near-dup


def q_dedup_embedding(embeddings: DataFrame, threshold: float = 0.30) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via SRP-LSH blocking +
    exact cosine verification (north-star dedup family, embedding tier;
    fully oracle-checked — the signature blocking is reproduced in the
    DuckDB oracle from the same hyperplane constants).

    Scale: candidate pairs come from equality self-join on the SRP
    signature — the shuffle is keyed by signature, never all-pairs.

    Threshold note: the fixture embeddings are near-random (max
    pairwise cosine ≈ 0.51), so the declared query uses a low
    threshold + 8 planes to keep the pipeline's output non-empty; a
    real near-dup deployment runs ≥0.9 with 16+ planes.

    Plan shape: signature-keyed equi-self-join. Candidate pairs come
    from ``a.join(b, "sig")`` with a ``vec_id`` ordering filter — ONE
    shuffle keyed on sig, and a skewed bucket is split at runtime by
    AQE's skew-join handling. No row ever holds more than two
    embeddings. (An earlier formulation grouped
    ``collect_list(struct(vec_id, embedding))`` per signature to avoid
    evaluating the signature projection on both join sides; with only
    2^planes buckets a single grouped row then holds ~1/2^planes of
    the corpus's vectors — an executor-OOM at scale that AQE cannot
    split, so the join form wins even at 2× signature-projection
    cost.)
    """
    from node_js_etl_processor_spark.catalog import spread

    planes = _srp_hyperplanes(8)
    sigged = spread(embeddings).select(
        "vec_id", "embedding", srp_signature(F.col("embedding"), planes).alias("sig")
    )
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


def embedding_near_dup_keepers(
    embeddings: DataFrame, threshold: float = 0.30
) -> DataFrame:
    """Batch near-dup KEEPER rule in embedding space: a vector
    survives iff no SRP-sig-blocked pair links it at cosine ≥
    threshold to a smaller-vec_id vector — regardless of that
    vector's own fate, exactly ``dedup.minhash_near_dup_keepers``'s
    rule, which is what makes the decision identical between this
    batch form and the streaming ingest loop
    (``streaming.dedup.embedding_ingest_stream``): 'drop if near
    anything SEEN earlier', where seen = every vector that ever
    arrived, not just survivors.

    Scale: pairs from the sig-keyed self-join (never all-pairs), one
    distinct over loser ids, one anti-join."""
    losers = (
        q_dedup_embedding(embeddings, threshold=threshold)
        .select(F.col("vec_b").alias("vec_id"))
        .distinct()
    )
    return embeddings.join(losers, "vec_id", "left_anti")


def semdedup(
    embeddings: DataFrame,
    threshold: float = 0.30,
    n_cells: int | None = None,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Semantic deduplication, cluster-then-cosine form (Abbas et al.,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication", 2023): assign every embedding to its nearest coarse
    centroid, then compare pairs only WITHIN a cluster — a vector is a
    semantic duplicate when some lower-id cluster-mate has cosine ≥
    threshold. Output: one row per duplicate with its cluster, the
    kept twin it duplicates (highest-cosine lower-id mate, ties →
    lowest id), and the cosine.

    Complements ``q_dedup_embedding``: SRP blocking finds near-
    IDENTICAL vectors (signature equality ≈ tiny angle); SemDeDup's
    cluster blocking finds semantic redundancy at a coarser radius —
    the training-data curation setting where whole clusters of
    near-synonymous documents get thinned.

    Cell-count discipline (the thing that keeps this off the quadratic
    cliff): within-cell pair generation is O(Σ per-cell n²), sound only
    while per-cell membership stays bounded — so n_cells must grow ~√n.
    ``centroids`` takes a trained quantizer (``kmeans_train`` output —
    the production path). With NEITHER ``centroids`` nor ``n_cells``
    given, the operator counts the corpus and auto-sizes
    ``n_cells = max(8, ceil(√n))`` (one count job — parameters, not
    data). An EXPLICIT fixed ``n_cells`` is the reproducible declared-
    query form; it pins blocking for the oracle and is fixture-scale
    only.

    Scale: ONE shuffle keyed on cell for the self-join (AQE splits a
    hot cell), one window exchange keyed on the dup's vec_id. No row
    ever holds more than two embeddings.
    """
    from pyspark.sql.window import Window

    if centroids is None and n_cells is None:
        n = embeddings.count()
        n_cells = max(8, math.isqrt(max(n - 1, 0)) + 1)
    if n_cells is not None and n_cells < 1:
        raise ValueError(f"n_cells must be >= 1, got {n_cells}")
    assigned = ivf_assign(embeddings, n_cells or 8, centroids=centroids).select(
        "vec_id", "embedding", "cell"
    )
    a = assigned.alias("a")
    b = assigned.alias("b")
    scored = (
        a.join(b, "cell")
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            "cell",
            F.col("b.vec_id").alias("vec_id"),
            F.col("a.vec_id").alias("dup_of"),
            F.round(
                cosine_similarity(
                    F.col("a.embedding").cast("array<double>"),
                    F.col("b.embedding").cast("array<double>"),
                ),
                6,
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("cosine").desc(), F.col("dup_of").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cell", "dup_of", "cosine")
        .orderBy("vec_id")
    )


def q_semdedup(embeddings: DataFrame, threshold: float = 0.30) -> DataFrame:
    """Declared query: SemDeDup over the fixture with the FIXED
    8-seed-centroid blocking — fully oracle-checked (the DuckDB SQL
    rebuilds cell assignment from the same centroid constants; a
    trained or auto-sized quantizer would not be SQL-reproducible).
    Production entry points are ``semdedup(centroids=kmeans_train(...))``
    or the auto-sized default — see ``semdedup``'s docstring for why
    fixed-k is fixture-scale only."""
    return semdedup(embeddings, threshold=threshold, n_cells=8)


# ----------------------------------------------------- k-means (Lloyd step)

#: Fixed-point quantum for the Lloyd-step accumulators: member values
#: are floored to integer units of 2^-20 BEFORE summing, so the
#: distributed reduction is pure int64 addition — associative, hence
#: bit-identical on any partitioning/engine. Summing raw doubles
#: instead would make the result depend on partial-agg order (the
#: classic distributed-float nondeterminism).
KMEANS_QUANT = 1 << 20


def _kmeans_partials_jvm(
    embeddings: DataFrame, centroids: list[list[float]]
) -> DataFrame:
    """Per-cell quantized partial sums via pure Column expressions —
    the reference form the Arrow kernel is pinned against."""
    dim = len(centroids[0])
    assigned = ivf_assign(embeddings, centroids=centroids)
    sums = [
        F.sum(
            F.floor(F.col("embedding")[d].cast("double") * F.lit(float(KMEANS_QUANT))).cast(
                "bigint"
            )
        ).alias(f"s{d}")
        for d in range(dim)
    ]
    return assigned.groupBy("cell").agg(F.count("*").alias("n_vectors"), *sums)


def _kmeans_partials_numpy(
    embeddings: DataFrame, centroids: list[list[float]]
) -> DataFrame:
    """Arrow-batched twin of ``_kmeans_partials_jvm``: one mapInPandas
    pass fuses centroid assignment and the quantized per-cell reduction,
    emitting ≤ n_cells partial rows PER BATCH (cell, count, 64 int64
    sums); a tiny keyed groupBy then merges the partials.

    Bit-for-bit parity with the JVM form is engineered, not hoped for:

    - dot products / norms are computed with ``cumsum`` along the dim
      axis — the same LEFT-TO-RIGHT sequential float addition as the
      JVM ``aggregate(zip_with(...), acc + v)`` fold (a BLAS ``@`` or
      pairwise ``sum`` would differ in the last ulp and could flip a
      near-tie argmax);
    - the argmax tie rule is first-max on both sides (``np.argmax`` ↔
      ``array_position(scores, array_max(scores))``);
    - the per-cell reduction is exact int64 scatter-add of
      ``floor(float64(x) * 2^20)`` — associative, so batch boundaries
      and partitioning cannot change it.

    A test pins JVM == numpy on the fixture. This is the hot path: the
    JVM form evaluates k interpreted higher-order-function aggregates
    per row (the suite's slowest query at 6.4 s/sf0.1); the kernel
    replaces that with vectorized NumPy over Arrow batches.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    from node_js_etl_processor_spark.catalog import spread

    cmat = np.asarray(centroids, dtype=np.float64)  # (k, dim)
    k, dim = cmat.shape
    # cell is int32 to match ivf_assign's `cast("int")` exactly — the
    # declared query's output schema must not change with the kernel
    out_schema = StructType(
        [StructField("cell", IntegerType(), False), StructField("n_vectors", LongType(), False)]
        + [StructField(f"s{d}", LongType(), False) for d in range(dim)]
    )

    def partials(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)  # (n, DIM)
            # sequential-order sums via cumsum: bit-identical to the
            # JVM left fold, still vectorized across the batch axis
            norms = np.sqrt(np.cumsum(m * m, axis=1)[:, -1])
            scores = np.empty((m.shape[0], k), dtype=np.float64)
            for i in range(k):
                scores[:, i] = np.cumsum(m * cmat[i], axis=1)[:, -1] / (norms + 1e-12)
            cell = scores.argmax(axis=1)
            floored = np.floor(m * float(KMEANS_QUANT)).astype(np.int64)
            acc = np.zeros((k, dim), dtype=np.int64)
            np.add.at(acc, cell, floored)
            counts = np.bincount(cell, minlength=k).astype(np.int64)
            live = np.flatnonzero(counts)
            out = {"cell": live.astype(np.int32), "n_vectors": counts[live]}
            for d in range(dim):
                out[f"s{d}"] = acc[live, d]
            yield pd.DataFrame(out)

    return (
        spread(embeddings)
        .select("embedding")
        .mapInPandas(partials, schema=out_schema)
        .groupBy("cell")
        .agg(
            *[
                F.expr(f"sum({c}) AS {c}")
                for c in ["n_vectors"] + [f"s{d}" for d in range(dim)]
            ]
        )
    )


def kmeans_step(
    embeddings: DataFrame,
    n_cells: int = 8,
    centroids: list[list[float]] | None = None,
    use_arrow_kernel: bool = True,
) -> DataFrame:
    """One Lloyd iteration of k-means over the embedding corpus
    (Lloyd, "Least squares quantization in PCM", IEEE Trans. Inf.
    Theory 1982 — the training loop behind IVF coarse quantizers and
    SemDeDup cluster maps): assign every vector to its nearest current
    centroid, then compute per-cell member counts and the L2 shift
    between each old centroid and its members' mean. ``kmeans_train``
    is the driver loop feeding each round's means back in; one step is
    the engine-side unit of work, and keeping it a declared query makes
    the iterative path oracle-checkable (a full loop is not
    SQL-expressible).

    ``centroids`` defaults to the deterministic seeds (the declared
    query's reproducible form); pass a trained list to iterate.

    Scale: assignment + reduction run fused in ONE Arrow-batched
    mapInPandas pass (``_kmeans_partials_numpy``; ``use_arrow_kernel=
    False`` selects the pure-Column reference form, pinned equal by
    test) — each executor ships ≤ n_cells × 65 longs per batch
    regardless of data size. The mean/shift arithmetic runs on the
    n_cells-row aggregated frame in a FIXED left-associated chain, so
    every float op is order-pinned and the DuckDB oracle reproduces it
    bit-for-bit.
    """
    cents = centroids if centroids is not None else _ivf_centroids(n_cells)
    make = _kmeans_partials_numpy if use_arrow_kernel else _kmeans_partials_jvm
    agg = make(embeddings, cents)
    # the old-centroid lookup appears ONCE in the plan (one element_at
    # on one 8×64 literal array) — an earlier form nested that literal
    # once PER DIMENSION and the 64× re-inlined constant tree cost
    # ~5 s of analysis/codegen per run (the data itself is k rows here).
    # The array and the 64 means are each one SQL text: one JVM call to
    # build instead of one per element
    cent_arr = literals.lit([[float(v) for v in c] for c in cents])
    quant = literals.sql(float(KMEANS_QUANT))
    means = F.expr(
        "array("
        + ", ".join(
            f"CAST(s{d} AS DOUBLE) / (CAST(n_vectors AS DOUBLE) * {quant})"
            for d in range(len(cents[0]))
        )
        + ")"
    )
    # left fold, acc + diff² in dimension order: the exact float-op
    # sequence of the previous chained form and of the DuckDB oracle
    sq = F.aggregate(
        F.zip_with(
            means,
            F.element_at(cent_arr, F.col("cell") + 1),
            lambda m, c: (m - c) * (m - c),
        ),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )
    return agg.select(
        "cell", "n_vectors", F.round(F.sqrt(sq), 6).alias("shift")
    ).orderBy("cell")


def q_kmeans_step(embeddings: DataFrame) -> DataFrame:
    """Declared query: one Lloyd iteration from the deterministic seed
    centroids — per-cell member counts and centroid shift. Fully
    oracle-checked (quantized int sums make the reduction order-free;
    the float tail is an order-pinned chain both engines evaluate
    identically)."""
    return kmeans_step(embeddings)


def kmeans_train(
    embeddings: DataFrame,
    n_cells: int = 8,
    max_iters: int = 10,
    tol: float = 1e-3,
    sample_fraction: float | None = None,
    use_arrow_kernel: bool = True,
    init_centroids: list[list[float]] | None = None,
) -> list[list[float]]:
    """Full k-means training loop: iterate Lloyd steps from the
    deterministic seeds until the largest per-centroid shift drops
    below ``tol`` (or ``max_iters``). Returns the trained centroids —
    the input ``semdedup`` / ``ivf_assign`` / ``kmeans_step`` accept as
    ``centroids=``, closing the "production trains these" loop.

    ``sample_fraction`` trains on a seeded Bernoulli sample — the
    standard 100 TB pattern: a coarse quantizer only needs enough
    vectors per centroid to estimate means (IVF training in Jégou et
    al. 2011 uses a corpus subsample), so training reads ~fraction of
    the data per iteration while ASSIGNMENT still runs over everything.

    Driver-side cost per iteration: collecting the n_cells × 66
    aggregated frame (parameters, not data — the one permissible
    collect). Cluster-side cost per iteration: one fused Arrow pass +
    one tiny keyed groupBy, identical to ``kmeans_step``. Empty cells
    keep their previous centroid (the standard Lloyd convention).
    """
    if sample_fraction is not None:
        # seeded sample: deterministic for a fixed input partitioning
        embeddings = embeddings.sample(fraction=sample_fraction, seed=0x5EED)
    # use_arrow_kernel=False routes through the pinned JVM reference
    # path (same quantized int64 partials) — a debugging escape hatch
    # for isolating Arrow-kernel parity issues
    partials = _kmeans_partials_numpy if use_arrow_kernel else _kmeans_partials_jvm
    cents = [
        list(c) for c in (init_centroids if init_centroids is not None
                          else _ivf_centroids(n_cells))
    ]
    dim = len(cents[0])
    for _ in range(max_iters):
        rows = partials(embeddings, cents).collect()
        shift = 0.0
        new_cents = [list(c) for c in cents]
        for r in rows:
            cell = int(r["cell"])
            n = float(r["n_vectors"]) * float(KMEANS_QUANT)
            mean = [float(r[f"s{d}"]) / n for d in range(dim)]
            shift = max(
                shift,
                math.sqrt(sum((m - o) ** 2 for m, o in zip(mean, cents[cell]))),
            )
            new_cents[cell] = mean
        cents = new_cents
        if shift < tol:
            break
    return cents


# ------------------------------------------------- pandas_udf batch scorer


def batch_cosine_pandas(embeddings: DataFrame, probe: list[float]) -> DataFrame:
    """Arrow-batched NumPy cosine scoring (the UDF escape hatch,
    documented as the slow-path alternative — used when rescoring wide
    candidate sets where BLAS matrix-vector products win over per-row
    codegen; never in the correctness gate).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    p = np.asarray(probe, dtype=np.float64)
    pn = p / np.linalg.norm(p)

    def _cos(batch):
        m = np.vstack(batch.to_numpy())  # (batch, dim)
        norms = np.linalg.norm(m, axis=1)
        norms[norms == 0] = 1.0
        return pd.Series((m @ pn) / norms)

    # explicit annotations: this module uses `from __future__ import
    # annotations`, which stringifies inline hints and breaks Spark's
    # pandas-UDF eval-type inference
    _cos.__annotations__ = {"batch": pd.Series, "return": pd.Series}
    cos = pandas_udf(_cos, "double")

    return embeddings.select("vec_id", "label", F.round(cos(F.col("embedding")), 6).alias("cosine"))


# ------------------------------------------------- IVF coarse quantization


def _ivf_centroids(k: int, dim: int = DIM, seed: int = 0xC3) -> list[list[float]]:
    """Deterministic pseudo-random unit centroids (splitmix64 hash →
    [-1,1), L2-normalized). A production IVF trains these with k-means
    (``kmeans_train`` in this module — its output plugs into
    ``ivf_assign``/``semdedup``/``kmeans_step`` via ``centroids=``);
    deterministic seed centroids keep the declared queries reproducible
    without an RNG, and seed the training loop itself."""
    cents = []
    for c in range(k):
        row = []
        for d in range(dim):
            z = (seed + c * dim + d + 1) * 0x9E3779B97F4A7C15 % (1 << 64)
            z = (z ^ (z >> 30)) * 0xBF58476D1CE4E5B9 % (1 << 64)
            z = (z ^ (z >> 27)) * 0x94D049BB133111EB % (1 << 64)
            z ^= z >> 31
            row.append((z / float(1 << 63)) - 1.0)
        norm = math.sqrt(sum(v * v for v in row)) or 1.0
        cents.append([v / norm for v in row])
    return cents


def ivf_assign(
    embeddings: DataFrame,
    n_cells: int = 8,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Assign each vector to its nearest (max cosine) coarse centroid.

    ``centroids`` defaults to the deterministic seeds (reproducible
    declared-query form); pass ``kmeans_train`` output for a trained
    quantizer.

    One narrow projection — greatest-of-k dot products against one k×DIM
    centroid matrix, built as one SQL-text constant (``literals.lit``).
    At 100 TB the assignment is computed once at ingest and the table is
    partitioned/clustered BY cell, so a probe reads only its cell's
    files (partition pruning), ~1/k of the data —
    sources/similarity_layout.py materializes that layout and its probe
    readers are plan-tested for pruning.
    """
    from node_js_etl_processor_spark.catalog import spread

    cents = centroids if centroids is not None else _ivf_centroids(n_cells)
    emb = F.col("embedding").cast("array<double>")
    # scores materialize into ONE array column before the argmax so each
    # dot product is evaluated once — a chained-when argmax would inline
    # every score expression into every comparison (k² blowup). The
    # scores themselves come from ONE transform over a single k×DIM
    # literal matrix, not k separate dot trees: per-run ANALYSIS of k
    # duplicated 64-literal expression trees measured 1.6× slower than
    # the single-tree form (same arithmetic, same fold order, identical
    # assignments — the kmeans-tail literal-re-inlining lesson again).
    # The matrix is SQL text: one JVM call to build, not one per element
    cent_arr = literals.lit([[float(v) for v in c] for c in cents])
    scores = F.transform(
        cent_arr, lambda c: dot(emb, c) / (l2_norm(emb) + F.lit(1e-12))
    )
    with_scores = spread(embeddings).withColumn("_scores", scores)
    return with_scores.withColumn(
        "cell",
        (F.array_position(F.col("_scores"), F.array_max(F.col("_scores"))) - 1).cast("int"),
    ).drop("_scores")


def ivf_topk(
    embeddings: DataFrame,
    probe: list[float],
    k: int = 10,
    n_cells: int = 8,
    n_probe_cells: int = 2,
    exclude_vec_id: int | None = None,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF search: score only vectors in the ``n_probe_cells`` cells
    whose centroids are closest to the probe (driver-side argmax over k
    centroid dot products — the probe is the query argument).
    ``centroids`` takes a trained quantizer (``kmeans_train``); both
    the assignment and the probe-cell choice use the same set.
    """
    probe_cells = probe_cell_set(probe, n_cells, n_probe_cells, centroids=centroids)
    assigned = ivf_assign(embeddings, n_cells, centroids=centroids).filter(
        F.col("cell").isin(probe_cells)
    )
    return score_topk(assigned, probe, k=k, exclude_vec_id=exclude_vec_id)


def probe_cell_set(
    probe: list[float],
    n_cells: int = 8,
    n_probe_cells: int = 2,
    centroids: list[list[float]] | None = None,
) -> list[int]:
    """The ``n_probe_cells`` IVF cells whose centroids are closest to
    the probe (driver-side — mirrors ivf_assign's max-cosine rule).
    ``centroids`` must match what the data side was assigned with."""
    cents = centroids if centroids is not None else _ivf_centroids(n_cells)
    pnorm = math.sqrt(sum(v * v for v in probe)) or 1.0
    sims = [
        (i, sum(a * b for a, b in zip(probe, c)) / pnorm) for i, c in enumerate(cents)
    ]
    return [i for i, _ in sorted(sims, key=lambda t: -t[1])[:n_probe_cells]]


def q_similarity_ivf(embeddings: DataFrame, k: int = 10) -> DataFrame:
    """Declared query: IVF coarse-quantized approximate top-k for probe
    vec_id=0 (fully oracle-checked: centroid constants embedded in the
    DuckDB SQL verify cell assignment AND probe-cell pruning; recall vs
    exact additionally asserted in tests)."""
    probe = _probe_vector(embeddings, 0)
    return ivf_topk(embeddings, probe, k=k, exclude_vec_id=0)


# ------------------------------------------------ product quantization (PQ)

#: PQ geometry: 64-dim vectors split into 8 subspaces of 8 dims, 16
#: codewords per subspace → one 4-bit code per subspace, 32 bits per
#: vector. The memory story IS the operator: candidate scoring reads
#: ~4 bytes/vector instead of 512 (the 64 raw doubles) — at 100 TB of
#: embeddings that is the difference between an in-memory scan and not.
PQ_N_SUB = 8
PQ_SUB_DIM = DIM // PQ_N_SUB
PQ_K = 16


def _pq_geometry(n_sub: int, k: int, sub_dim: int | None = None) -> int:
    """Validate PQ geometry and return the derived sub_dim. Non-default
    shapes fail LOUDLY here instead of silently truncating dimensions
    (n_sub·sub_dim must tile DIM exactly) or overflowing the 4-bit
    nibbles of the packed pq_code (k must fit a nibble)."""
    if sub_dim is None:
        sub_dim = DIM // n_sub
    if n_sub * sub_dim != DIM:
        raise ValueError(
            f"PQ geometry n_sub={n_sub} × sub_dim={sub_dim} != DIM={DIM}"
        )
    if k > 16:
        raise ValueError(f"PQ k={k} > 16 overflows the 4-bit packed pq_code")
    return sub_dim


def _pq_codebooks(
    n_sub: int = PQ_N_SUB, k: int = PQ_K, sub_dim: int | None = None, seed: int = 0xD7
) -> list[list[list[float]]]:
    """Deterministic per-subspace codebooks (the splitmix64 generator
    behind _ivf_centroids, one distinct seed per subspace). Production
    PQ trains each subspace codebook with k-means over the sliced
    corpus (Jégou, Douze & Schmid, "Product quantization for nearest
    neighbor search", TPAMI 2011 §III) — the deterministic seeds keep
    the declared queries reproducible, same judgment as IVF.
    sub_dim is DERIVED from n_sub (and validated) unless given."""
    sub_dim = _pq_geometry(n_sub, k, sub_dim)
    return [
        _ivf_centroids(k, dim=sub_dim, seed=seed + 131 * s) for s in range(n_sub)
    ]


def _pq_residual_codebooks(
    n_sub: int = PQ_N_SUB, k: int = PQ_K
) -> list[list[list[float]]]:
    """Deterministic codebooks for the RESIDUAL quantizer of the IVFADC
    path (Jégou et al. 2011 §V: the product quantizer encodes
    y − q₁(y), not y, and is shared across all inverted lists). A
    distinct seed base keeps them independent of the flat-PQ codebooks;
    production trains them on actual residuals via ``ivfpq_train``."""
    return _pq_codebooks(n_sub, k, seed=0xE3)


def _pq_cb_geometry(cbs: list[list[list[float]]]) -> tuple[int, int]:
    """(n_sub, sub_dim) of a codebook set, validated against DIM and
    the nibble packing — every consumer derives slicing from the
    codebooks themselves, never from module constants."""
    sub_dim = _pq_geometry(len(cbs), max(len(cb) for cb in cbs), len(cbs[0][0]))
    return len(cbs), sub_dim


def _pq_sub_dists(sub: Column, cb: list[list[float]]) -> Column:
    """Distance array of ``sub`` against one subspace codebook, in the
    argmin-equivalent form d'_j = dot(sub, c_j)·(-2) + ||c_j||² (the
    row's own ||sub||² is constant across j and cannot change the
    argmin, so it is dropped). ONE transform over a single k×sub_dim
    literal matrix — the ivf_assign single-tree discipline — built,
    like the norms, as one SQL-text constant."""
    cb_arr = literals.lit([[float(v) for v in c] for c in cb])
    cc_arr = literals.lit([float(sum(v * v for v in c)) for c in cb])
    return F.transform(
        F.sequence(F.lit(0), F.lit(len(cb) - 1)),
        lambda j: dot(sub, F.element_at(cb_arr, j + 1)) * F.lit(-2.0)
        + F.element_at(cc_arr, j + 1),
    )


def pq_encode(
    embeddings: DataFrame,
    codebooks: list[list[list[float]]] | None = None,
    use_arrow_kernel: bool = True,
    residual_centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Encode every embedding to its PQ codes: per subspace, the index
    of the nearest codeword (first-min tie rule — identical in Spark's
    array_position and DuckDB's list_position, so the encoding is
    oracle-checkable bit for bit). Output keeps the per-subspace
    ``codes`` array (ADC scoring consumes it) plus the packed 4-bit
    ``pq_code`` bigint — the compact form a layout would store.

    Two kernels, the k-means precedent applied to encoding: the
    default is an Arrow mapInPandas pass (``use_arrow_kernel=False``
    selects the pure-Column reference form, pinned bit-identical by
    test) — the Column form evaluates n_sub×k interpreted
    higher-order dot folds per row (HOFs never reach codegen), which
    made inline encode the suite's slowest step; the numpy kernel
    vectorizes the same arithmetic in the same order (cumsum-ordered
    dots, (dot·-2)+‖c‖² distance form, first-min argmin).

    Scale: one narrow pass either way, no shuffle; at ingest the
    (vec_id, pq_code) table is 12 bytes/row and replaces the raw
    vectors for candidate generation.

    ``residual_centroids`` selects the IVFADC form (Jégou et al. 2011
    §V): the input must carry a ``cell`` column (``ivf_assign``) and
    the kernel encodes ``y − centroid[cell]`` instead of ``y`` — the
    subtraction is fused into the same narrow pass, still no shuffle.
    """
    if use_arrow_kernel:
        return _pq_encode_numpy(embeddings, codebooks, residual_centroids)
    return _pq_encode_jvm(embeddings, codebooks, residual_centroids)


def _pq_encode_numpy(
    embeddings: DataFrame,
    codebooks: list[list[list[float]]] | None = None,
    residual_centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Arrow-batched twin of ``_pq_encode_jvm`` — bit-for-bit parity
    engineered the same way as ``_kmeans_partials_numpy``: per-dim
    dot products via cumsum (the JVM left fold), distances as
    ``(dot * -2.0) + cc`` in that exact op order, first-min argmin
    (np.argmin ↔ array_position of array_min). The optional residual
    subtraction is a single elementwise IEEE subtract — identical in
    numpy, zip_with and the oracle's list_transform."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    from node_js_etl_processor_spark.catalog import spread

    cbs = codebooks if codebooks is not None else _pq_codebooks()
    n_sub, sub_dim = _pq_cb_geometry(cbs)
    cmats = [np.asarray(cb, dtype=np.float64) for cb in cbs]
    ccs = [np.array([float(sum(v * v for v in c)) for c in cb]) for cb in cbs]
    rcents = (
        np.asarray(residual_centroids, dtype=np.float64)
        if residual_centroids is not None
        else None
    )
    out_schema = StructType(
        list(embeddings.schema.fields)
        + [
            StructField("codes", ArrayType(IntegerType(), False), False),
            StructField("pq_code", LongType(), False),
        ]
    )
    in_cols = embeddings.columns

    def encode(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            if rcents is not None:
                m = m - rcents[pdf["cell"].to_numpy()]
            codes = np.empty((m.shape[0], n_sub), dtype=np.int64)
            for s in range(n_sub):
                sub = m[:, s * sub_dim : (s + 1) * sub_dim]
                k = cmats[s].shape[0]
                d = np.empty((m.shape[0], k), dtype=np.float64)
                for j in range(k):
                    dot_j = np.cumsum(sub * cmats[s][j], axis=1)[:, -1]
                    d[:, j] = (dot_j * -2.0) + ccs[s][j]
                codes[:, s] = d.argmin(axis=1)  # first-min, same tie rule
            packed = (codes << (4 * np.arange(n_sub))).sum(axis=1)
            out = pdf[in_cols].copy()
            out["codes"] = [row.astype(np.int32) for row in codes]
            out["pq_code"] = packed
            yield out

    return spread(embeddings).mapInPandas(encode, out_schema)


def _pq_encode_jvm(
    embeddings: DataFrame,
    codebooks: list[list[list[float]]] | None = None,
    residual_centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Pure-Column reference form of the PQ encoding (the expression
    the DuckDB oracle mirrors term for term)."""
    from node_js_etl_processor_spark.catalog import spread

    cbs = codebooks if codebooks is not None else _pq_codebooks()
    n_sub, sub_dim = _pq_cb_geometry(cbs)
    emb = F.col("embedding").cast("array<double>")
    if residual_centroids is not None:
        cent_arr = literals.lit([[float(v) for v in c] for c in residual_centroids])
        emb = F.zip_with(
            emb, F.element_at(cent_arr, F.col("cell") + 1), lambda a, b: a - b
        )
    in_cols = embeddings.columns
    with_d = spread(embeddings).select(
        "*",
        *[
            _pq_sub_dists(
                F.slice(emb, s * sub_dim + 1, sub_dim), cbs[s]
            ).alias(f"_d{s}")
            for s in range(n_sub)
        ],
    )
    # distances bound to columns first: array_position references its
    # array twice (haystack + array_min) and must not re-evaluate the
    # 16-dot transform per reference
    codes = [
        (F.array_position(F.col(f"_d{s}"), F.array_min(F.col(f"_d{s}"))) - 1).cast(
            "int"
        )
        for s in range(len(cbs))
    ]
    packed = codes[0].cast("bigint")
    for s in range(1, len(cbs)):
        packed = packed + codes[s].cast("bigint") * F.lit(1 << (4 * s)).cast("bigint")
    return with_d.select(
        *in_cols,
        F.array(*codes).alias("codes"),
        packed.alias("pq_code"),
    )


def pq_adc_topk(
    embeddings: DataFrame,
    probe: list[float],
    k: int = 10,
    exclude_vec_id: int | None = None,
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """Asymmetric-distance top-k (Jégou et al. 2011 §IV): the probe
    stays unquantized; every corpus vector is scored from its codes
    alone via per-subspace lookup tables lut[s][j] = <probe_s, c_sj>
    (computed driver-side — 8×16 doubles, parameters not data) and
    adc = Σ_s lut[s][code_s], a left-associated chain the oracle
    replays in the same order. Scoring never touches the embedding
    column — the 100 TB read is codes only.
    """
    cbs = codebooks if codebooks is not None else _pq_codebooks()
    encoded = pq_encode(embeddings, codebooks=cbs)
    if exclude_vec_id is not None:
        encoded = encoded.filter(F.col("vec_id") != exclude_vec_id)
    adc = pq_adc_score(F.col("codes"), probe, codebooks=cbs)
    return (
        encoded.select("vec_id", F.round(adc, 6).alias("adc_dot"))
        .orderBy(F.col("adc_dot").desc(), F.col("vec_id").asc())
        .limit(k)
    )


def pq_adc_score(
    codes: Column,
    probe: list[float],
    codebooks: list[list[list[float]]] | None = None,
) -> Column:
    """The ADC score expression for a ``codes`` array column:
    Σ_s lut[s][code_s] with lut[s][j] = <probe_s, c_sj> computed
    driver-side (8×16 doubles — parameters, not data) and embedded as
    SQL-text literal arrays; a left-associated chain the oracle replays
    in the same order. Shared by ``pq_adc_topk`` (inline encode) and the
    layout probe (stored codes — the scan never touches embeddings)."""
    cbs = codebooks if codebooks is not None else _pq_codebooks()
    _, sub_dim = _pq_cb_geometry(cbs)
    luts = []
    for s, cb in enumerate(cbs):
        p_sub = probe[s * sub_dim : (s + 1) * sub_dim]
        lut = []
        for c in cb:
            acc = 0.0
            for a, b in zip(p_sub, c):  # left fold == dot()/list_dot_product
                acc += a * b
            lut.append(acc)
        luts.append(lut)
    adc = F.element_at(literals.lit(luts[0]), F.element_at(codes, 1) + 1)
    for s in range(1, len(luts)):
        lut = literals.lit(luts[s])
        adc = adc + F.element_at(lut, F.element_at(codes, s + 1) + 1)
    return adc


def q_pq_encode(embeddings: DataFrame) -> DataFrame:
    """Declared query: PQ encoding of the corpus — packed 32-bit code
    per vector. Fully oracle-checked (the DuckDB SQL rebuilds every
    subspace's distance list from the same codebook literals and packs
    the same argmin indexes)."""
    return pq_encode(embeddings).select("vec_id", "pq_code")


def q_pq_topk(embeddings: DataFrame, k: int = 10) -> DataFrame:
    """Declared query: ADC approximate top-k for probe vec_id=0 over
    PQ codes. Fully oracle-checked — the SQL re-derives the lookup
    from the probe row and the codebook literals, so code assignment
    AND the ADC arithmetic are differentially verified."""
    probe = _probe_vector(embeddings, 0)
    return pq_adc_topk(embeddings, probe, k=k, exclude_vec_id=0)


def pq_train(
    embeddings: DataFrame,
    n_sub: int = PQ_N_SUB,
    k: int = PQ_K,
    max_iters: int = 10,
    tol: float = 1e-3,
    sample_fraction: float | None = None,
) -> list[list[list[float]]]:
    """Train the per-subspace PQ codebooks: one ``kmeans_train`` run
    over each sliced subspace (the module's Lloyd machinery, now
    dim-generic), seeded from the deterministic codebooks — the
    production path Jégou et al. 2011 §III describes, with the same
    subsample option as IVF training.

    Honesty note on the objective: this module's quantizer assigns by
    COSINE (spherical k-means), while PQ's canonical training is
    Euclidean; on roughly-unit-norm embedding slices the two
    objectives nearly coincide, and the ENCODING rule stays exactly
    Euclidean argmin regardless (``pq_encode``) — training only moves
    the codewords. The quantization-error test pins that trained
    codebooks beat the deterministic seeds on the fixture.

    Cost: n_sub × (one narrow pass + one k×(sub_dim+1) collect) per
    iteration — parameters, not data; at 100 TB train on
    ``sample_fraction`` like any coarse quantizer.
    """
    emb = F.col("embedding").cast("array<double>")
    sub_dim = _pq_geometry(n_sub, k)
    seeds = _pq_codebooks(n_sub, k)
    cbs = []
    for s in range(n_sub):
        sub = embeddings.select(
            "vec_id",
            F.slice(emb, s * sub_dim + 1, sub_dim).alias("embedding"),
        )
        cbs.append(
            kmeans_train(
                sub,
                n_cells=k,
                max_iters=max_iters,
                tol=tol,
                sample_fraction=sample_fraction,
                init_centroids=seeds[s],
            )
        )
    return cbs


def ivfpq_encode(
    embeddings: DataFrame,
    n_cells: int = 8,
    centroids: list[list[float]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
    use_arrow_kernel: bool = True,
) -> DataFrame:
    """IVFADC ingest encoding (Jégou et al. 2011 §V): assign each
    vector to its coarse cell, then PQ-encode the RESIDUAL
    ``y − centroid(cell)`` with a residual codebook shared across all
    cells (§V: "the same product quantizer is used for all the
    inverted lists"). Residuals concentrate near the origin, so a
    fixed codebook budget spends its codewords on the distribution
    that actually remains after coarse quantization — that is what
    keeps ADC recall up as cells shrink at scale.

    One fused narrow pass: cell argmax + subtract + encode, no
    shuffle. Output = input columns + cell + codes + pq_code."""
    cents = centroids if centroids is not None else _ivf_centroids(n_cells)
    assigned = ivf_assign(embeddings, n_cells, centroids=cents)
    return pq_encode(
        assigned,
        codebooks=codebooks if codebooks is not None else _pq_residual_codebooks(),
        use_arrow_kernel=use_arrow_kernel,
        residual_centroids=cents,
    )


def ivfpq_cell_const(
    probe: list[float], centroids: list[list[float]]
) -> Column:
    """The per-cell constant of the residual ADC dot decomposition:
    <x, y> ≈ <x, c_cell + q₂(y − c_cell)> = <x, c_cell> + Σ_s lut_s.
    Computed driver-side (k doubles — parameters, not data), embedded
    as a literal array indexed by the row's ``cell`` column; the
    Python left fold matches list_dot_product, same contract as the
    ADC luts."""
    consts = []
    for c in centroids:
        acc = 0.0
        for a, b in zip(probe, c):
            acc += a * b
        consts.append(acc)
    return F.element_at(literals.lit(consts), F.col("cell") + 1)


def ivfpq_adc_topk(
    embeddings: DataFrame,
    probe: list[float],
    k: int = 10,
    n_cells: int = 8,
    n_probe_cells: int = 2,
    exclude_vec_id: int | None = None,
    centroids: list[list[float]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """Inline IVFADC search (Jégou et al. 2011 §V, residual form):
    coarse cells prune the corpus to the probe's nearest cells, then
    each survivor is scored from its residual codes as
    <probe, centroid(cell)> + Σ_s lut_s[code_s] with
    lut_s[j] = <probe_s, residual_codebook_s[j]> — the probe stays
    unquantized and is NOT residualized (the decomposition moves the
    centroid term out instead, so one shared lut serves every cell).
    The layout-fed production twin is
    ``sources.similarity_layout.ivfpq_probe`` (stored codes)."""
    cents = centroids if centroids is not None else _ivf_centroids(n_cells)
    cbs = codebooks if codebooks is not None else _pq_residual_codebooks()
    cells = probe_cell_set(probe, n_cells, n_probe_cells, centroids=cents)
    enc = ivfpq_encode(
        embeddings, n_cells, centroids=cents, codebooks=cbs
    ).filter(F.col("cell").isin(cells))
    if exclude_vec_id is not None:
        enc = enc.filter(F.col("vec_id") != exclude_vec_id)
    adc = ivfpq_cell_const(probe, cents) + pq_adc_score(
        F.col("codes"), probe, codebooks=cbs
    )
    return (
        enc.select("vec_id", F.round(adc, 6).alias("adc_dot"))
        .orderBy(F.col("adc_dot").desc(), F.col("vec_id").asc())
        .limit(k)
    )


def ivfpq_rescore_topk(
    embeddings: DataFrame,
    probe: list[float],
    k: int = 10,
    rescore: int = 3,
    n_cells: int = 8,
    n_probe_cells: int = 2,
    exclude_vec_id: int | None = None,
    centroids: list[list[float]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """The full IVFADC+rescore pipeline inline (Jégou et al. 2011 §V
    plus the standard exact-rescore tail): residual-ADC ranks the
    probed cells' candidates from codes, the top ``rescore·k`` ids
    form a shortlist (ties broken by vec_id — deterministic in both
    engines), and only the shortlist is exactly cosine-scored. The
    layout-fed twin is ``sources.similarity_layout.ivfpq_probe(...,
    rescore=R)``; this inline form exists so the DuckDB oracle can
    differentially verify the WHOLE chain — cells, residuals, codes,
    ADC ordering, shortlist membership AND the exact rescore — in one
    declared query.

    Scale shape: the ADC stage reads codes only; the rescore stage
    re-reads embeddings for ≤ R·k rows via a broadcast semi-join —
    at 100 TB the exact-scoring cost is bounded by the shortlist
    size, not the corpus."""
    cents = centroids if centroids is not None else _ivf_centroids(n_cells)
    cbs = codebooks if codebooks is not None else _pq_residual_codebooks()
    cells = probe_cell_set(probe, n_cells, n_probe_cells, centroids=cents)
    assigned = ivf_assign(embeddings, n_cells, centroids=cents).filter(
        F.col("cell").isin(cells)
    )
    if exclude_vec_id is not None:
        assigned = assigned.filter(F.col("vec_id") != exclude_vec_id)
    enc = pq_encode(assigned, codebooks=cbs, residual_centroids=cents)
    adc = ivfpq_cell_const(probe, cents) + pq_adc_score(
        F.col("codes"), probe, codebooks=cbs
    )
    shortlist = (
        enc.select("vec_id", F.round(adc, 6).alias("adc_dot"))
        .orderBy(F.col("adc_dot").desc(), F.col("vec_id").asc())
        .limit(rescore * k)
        .select("vec_id")
    )
    # the rescore side needs embeddings, not codes — join the
    # shortlist back to the ASSIGNED frame so the PQ-encode kernel
    # runs once, not once per branch (in the layout twin both sides
    # read the stored table, so this asymmetry is inline-only)
    cand = assigned.join(F.broadcast(shortlist), "vec_id", "left_semi")
    return score_topk(cand, probe, k=k)


def q_ivfpq_rescore(embeddings: DataFrame, k: int = 10) -> DataFrame:
    """Declared query: IVFADC with exact rescore for probe vec_id=0 —
    ADC shortlist of 3·k from residual codes, exact cosine over the
    shortlist only. Fully oracle-checked end to end (the SQL replays
    cells → residuals → codes → rounded-ADC ordering → LIMIT 3k →
    exact cosine), closing the one stage of the production ANN path
    (``ivfpq_probe(..., rescore=R)``) that would otherwise sit outside
    the differential gate."""
    probe = _probe_vector(embeddings, 0)
    return ivfpq_rescore_topk(embeddings, probe, k=k, rescore=3, exclude_vec_id=0)


def ivfpq_train(
    embeddings: DataFrame,
    n_cells: int = 8,
    centroids: list[list[float]] | None = None,
    n_sub: int = PQ_N_SUB,
    k: int = PQ_K,
    max_iters: int = 10,
    tol: float = 1e-3,
    sample_fraction: float | None = None,
) -> list[list[list[float]]]:
    """Train the residual codebooks the way Jégou et al. 2011 §V
    prescribes: coarse-assign the (sub)corpus, materialize the
    residuals ``y − centroid(cell)``, and run per-subspace k-means
    over THEM (via ``pq_train``) — codewords land where residuals
    live, not where raw vectors do. Cost is pq_train's (narrow passes
    + parameter-sized collects); subsample at scale like any
    quantizer training."""
    cents = centroids if centroids is not None else _ivf_centroids(n_cells)
    cent_arr = literals.lit([[float(v) for v in c] for c in cents])
    resid = ivf_assign(embeddings, n_cells, centroids=cents).select(
        "vec_id",
        F.zip_with(
            F.col("embedding").cast("array<double>"),
            F.element_at(cent_arr, F.col("cell") + 1),
            lambda a, b: a - b,
        ).alias("embedding"),
    )
    return pq_train(
        resid,
        n_sub=n_sub,
        k=k,
        max_iters=max_iters,
        tol=tol,
        sample_fraction=sample_fraction,
    )


def q_ivfpq_topk(embeddings: DataFrame, k: int = 10) -> DataFrame:
    """Declared query: the full inline IVFADC composition (Jégou et
    al. 2011 §V) under the oracle gate — coarse IVF cells prune the
    corpus to the probe's 2 nearest cells, then ADC scores the
    survivors from the PQ codes of their RESIDUALS
    ``y − centroid(cell)`` (the published §V form, not a
    raw-vector variant) via the per-cell-constant decomposition of
    ``ivfpq_adc_topk``. Fully oracle-checked: the DuckDB SQL
    re-derives cell assignment, probe-cell choice, the residual
    arithmetic, per-subspace code assignment AND the ADC sum from the
    same centroid/codebook literals, so every stage of the
    composition is differentially verified in one query. The
    layout-fed production form is
    ``sources.similarity_layout.ivfpq_probe`` (stored residual codes,
    partition-pruned, codes-only scan)."""
    probe = _probe_vector(embeddings, 0)
    return ivfpq_adc_topk(embeddings, probe, k=k, exclude_vec_id=0)


# ----------------------------------------------------- embedding pooling


def embedding_pool(
    embeddings: DataFrame, group_col: str = "label", dim: int = DIM
) -> DataFrame:
    """Element-wise mean embedding per group — the chunk→document
    pooling step of an embedding pipeline (embed chunks, mean-pool to
    one vector per parent; also the class-centroid builder for
    SemDeDup-style maps). One keyed aggregation with ``dim`` scalar
    SUM columns (element_at per dimension), reassembled into an array
    after the agg: every partial-agg buffer is exactly dim doubles +
    a count, map-side combine applies, and no group ever materializes
    its member vectors (an aggregate(collect_list)
    form LOOKS like a fold but buffers O(group_size × dim) per
    group, an OOM risk for skewed groups at scale; posexplode+avg
    would bound buffers too but costs a dim× row blowup through the
    shuffle). Returns (group, n, mean_emb array<double>)."""
    # each column as SQL text: one JVM call per aggregate, not four
    grouped = embeddings.groupBy(group_col).agg(
        F.count("*").cast("bigint").alias("n"),
        *[
            F.expr(f"sum(element_at(CAST(embedding AS ARRAY<DOUBLE>), {i + 1})) AS _s{i}")
            for i in range(dim)
        ],
    )
    mean = ", ".join(f"_s{i} / CAST(n AS DOUBLE)" for i in range(dim))
    return grouped.select(group_col, "n", F.expr(f"array({mean}) AS mean_emb"))


def q_embedding_pool(embeddings: DataFrame) -> DataFrame:
    """Declared query: mean-pool embeddings per label. The oracle
    compares n, the mean vector's squared norm, AND an md5 over all
    64 dims formatted to 6 decimals — so every element of every
    pooled vector is differentially checked (sum-order ulp noise
    sits ~9 orders below the 6-decimal format). DuckDB reduces
    per-dimension via unnest + subscripts; Spark folds arrays in the
    agg buffer — same math, structurally different plans, which is
    exactly what makes the check strong."""
    pooled = embedding_pool(embeddings)
    mean = F.col("mean_emb")
    return pooled.select(
        "label",
        "n",
        F.round(
            F.aggregate(mean, F.lit(0.0), lambda acc, v: acc + v * v), 6
        ).alias("sq_norm"),
        F.md5(
            F.concat_ws(
                # format_string, NOT format_number: the latter inserts
                # grouping commas for |x| >= 1000, which DuckDB's
                # format('{:.6f}') never does — parity must not depend
                # on pooled means staying below 1000
                ",", F.transform(mean, lambda x: F.format_string("%.6f", x))
            )
        ).alias("mean_md5"),
    )


# ------------------------------------------- semantic decontamination


def srp_band_count(
    threshold: float, band_planes: int = 2, target_recall: float = 0.95,
    max_bands: int = 32,
) -> int:
    """Number of OR-ed SRP bands needed so a pair AT ``threshold``
    cosine collides in >= 1 band with probability >= ``target_recall``.
    Per Charikar 2002, two vectors at angle θ agree on one sign bit
    with p = 1 − θ/π, so an r-plane band collides with p^r and b
    OR-ed bands miss with (1 − p^r)^b."""
    import math

    p = 1.0 - math.acos(max(-1.0, min(1.0, threshold))) / math.pi
    pr = p**band_planes
    if pr >= 1.0:
        return 1
    if pr <= 0.0:  # threshold == -1: sign bits never agree; OR-ing
        return max_bands  # more bands cannot help — cap honestly
    b = math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - pr))
    return max(1, min(max_bands, b))


def _banded_sigs_from_full(full: str, n_bands: int, band_planes: int) -> Column:
    """Array of (band, bsig) structs derived from ONE full
    ``n_bands × band_planes``-plane signature by bit slicing: plane i
    carries weight 1<<i in ``srp_signature``, so band k's short sig is
    ``(full >> k·band_planes) & (2^band_planes − 1)`` — identical
    values to signing each plane slice separately, but the plan walks
    the plane-literal matrix ONCE instead of once per band (7 separate
    2×64-literal aggregate trees per side measured seconds of
    analysis/codegen per run at sf0.1). ``full`` MUST name a bound
    column (the eval-cost contract of shingles_from_tokens), or each
    band re-evaluates the full signature. Built as one SQL text."""
    mask = (1 << band_planes) - 1
    structs = ", ".join(
        f"struct(CAST({k} AS INT) AS band,"
        f" CAST(shiftright({full}, {k * band_planes}) & {mask} AS BIGINT) AS bsig)"
        for k in range(n_bands)
    )
    return F.expr(f"array({structs})")


def semantic_decontaminate(
    train: DataFrame,
    evals: DataFrame,
    threshold: float = 0.30,
    band_planes: int = 2,
    target_recall: float = 0.95,
) -> DataFrame:
    """Embedding-space decontamination: flag TRAIN vectors whose
    cosine to any EVAL vector crosses ``threshold``. String
    decontamination (``text.q_decontaminate``) misses paraphrased or
    translated leakage; this tier catches vectors an embedding model
    maps near an eval item.

    Blocking is LSH BANDING sized to the threshold (a single
    exact 8-plane signature catches a pair at cosine 0.30 with
    probability (1 − acos(0.3)/π)^8 ≈ 1.6%, useless for a safety
    gate): ``srp_band_count`` picks b so that b OR-ed
    ``band_planes``-plane bands reach ``target_recall`` at the
    threshold (defaults: 7 bands of 2 planes → ~95% recall at 0.30;
    exact cosine verify then removes false candidates, so banding
    costs recall only, never precision). The honest physics: at a
    low threshold like 0.30 sign-bit LSH barely PRUNES (a random
    orthogonal pair still collides in some band with ~87%
    probability) — the gate is recall-first, and affordable because
    the EVAL side is parameter-sized and broadcast, bounding verify
    cost at |train| × |colliding evals|. At near-dup thresholds
    (≥0.8 → 3 bands) the same construction prunes hard. Candidates
    come from the (band, bsig)-keyed equi-join — never all-pairs;
    multi-band duplicate candidates are absorbed by the per-train
    argmax window, not a separate distinct. Returns one row per
    contaminated train vector with its worst-offending eval id.
    """
    from node_js_etl_processor_spark.catalog import spread

    # spread: the banded candidate+verify chain is NARROW up to the
    # argmax (the eval side broadcasts), so a single-file train input
    # would run the whole cosine verify on one core (measured 14.3 s
    # vs 2.6 s at sf0.1); structural no-op at scale
    train = spread(train)
    n_bands = srp_band_count(threshold, band_planes, target_recall)
    planes = _srp_hyperplanes(n_bands * band_planes)
    sig_t = (
        train.select(
            "vec_id",
            "embedding",
            srp_signature(F.col("embedding"), planes).alias("_full"),
        )
        .select(
            "vec_id",
            "embedding",
            F.explode(
                _banded_sigs_from_full("_full", n_bands, band_planes)
            ).alias("bs"),
        )
        .select("vec_id", "embedding", "bs.band", "bs.bsig")
    )
    sig_e = (
        evals.select(
            F.col("vec_id").alias("eval_id"),
            F.col("embedding").alias("eval_emb"),
            srp_signature(F.col("embedding"), planes).alias("_full"),
        )
        .select(
            "eval_id",
            "eval_emb",
            F.explode(
                _banded_sigs_from_full("_full", n_bands, band_planes)
            ).alias("bs"),
        )
        .select("eval_id", "eval_emb", "bs.band", "bs.bsig")
    )
    scored = sig_t.join(F.broadcast(sig_e), ["band", "bsig"]).select(
        "vec_id",
        "eval_id",
        F.round(
            cosine_similarity(
                F.col("embedding").cast("array<double>"),
                F.col("eval_emb").cast("array<double>"),
            ),
            6,
        ).alias("cosine"),
    ).filter(F.col("cosine") >= F.lit(threshold))
    # The per-train argmax as ONE keyed aggregation instead of
    # a row_number window — max of the (cosine, -eval_id) struct is
    # lexicographic, so it picks max cosine then min eval_id, exactly
    # the window's (cosine desc, eval_id asc) first row. The window
    # shuffled + sorted EVERY candidate row (at threshold 0.30 the
    # banding barely prunes, so that is nearly |train|·|evals| rows);
    # the aggregation reduces map-side to one row per (partition,
    # vec_id) before the exchange — guide-§2.3 "aggregate, don't sort".
    best = F.max(
        F.struct(F.col("cosine"), (-F.col("eval_id")).alias("neg_eval"))
    )
    return scored.groupBy("vec_id").agg(best.alias("_b")).select(
        "vec_id",
        (-F.col("_b.neg_eval")).cast("long").alias("eval_id"),
        F.col("_b.cosine").alias("max_cosine"),
    )


def q_semantic_decontaminate(embeddings: DataFrame) -> DataFrame:
    """Declared query: semantic decontamination with the fixture's
    vec_id % 10 == 0 slice standing in as the eval set (the standard
    eval-suite-vs-corpus split is two tables; one fixture table split
    deterministically keeps the oracle self-contained). Fully
    oracle-checked: blocking signatures, the cross-side candidate
    join, cosine verify AND the per-train-vector argmax are all
    replayed by the SQL."""
    train = embeddings.filter(F.col("vec_id") % 10 != 0)
    evals = embeddings.filter(F.col("vec_id") % 10 == 0)
    return semantic_decontaminate(train, evals)
