"""Similarity search over embedding columns (``array<float>``).

Two execution paths for top-k cosine neighbors:

- :func:`cosine_topk_bruteforce` — exact: broadcast the (small) query set
  against the corpus, score every pair JVM-side with higher-order array
  functions, keep top-k per query via ``row_number`` over a window keyed on
  the query. At 100 TB the corpus side streams: cost = |corpus| × |queries|
  fused multiply-adds inside codegen, no corpus shuffle at all (the only
  shuffle is |queries|×k result rows).
- :func:`cosine_topk_ivf` — IVF-style approximate: assign every corpus
  vector to its nearest coarse centroid (one broadcast pass), then search
  only the ``nprobe`` centroids nearest to each query. Prunes the scored
  set by ~|centroids|/nprobe; the partition-by-centroid layout mirrors how
  an Iceberg table would be bucketed by centroid id for storage-level
  pruning.

Cosine is computed with ``zip_with`` + ``aggregate`` (sequential double
accumulation — bit-identical to a sequential C loop, which keeps the DuckDB
oracle exact). Zero Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..schema import fan_out


def dot(a: Column, b: Column) -> Column:
    """Sequential double-precision dot product of two float arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; 0.0 when either vector is all-zero (try_divide
    keeps one all-zero embedding from ANSI-aborting an entire corpus job
    — and matches the BLAS path's guarded semantics)."""
    return F.coalesce(F.try_divide(dot(a, b), norm(a) * norm(b)), F.lit(0.0))


def cosine_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``queries`` is broadcast (must be driver-small: ≤ ~100k rows); corpus
    never shuffles — scoring happens map-side, then only the per-query top-k
    survive the window shuffle (|queries|×k rows).

    Output: (query_id, neighbor_id, cosine, rank). Self-matches excluded.
    """
    # norms precomputed per side: the pair projection then does ONE array
    # pass (the dot product) instead of three
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_vec"),
        norm(F.col("embedding")).alias("q_norm"),
    )
    # r15: the per-pair dot products evaluate map-side; fan_out keeps a
    # narrow scan from pinning them to one core (no-op on wide scans;
    # exact expressions — result is partitioning-independent)
    c = fan_out(corpus.select("vec_id", "embedding")).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_vec"),
        norm(F.col("embedding")).alias("c_norm"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cos_raw",
            F.coalesce(
                F.try_divide(
                    dot(F.col("q_vec"), F.col("c_vec")),
                    F.col("q_norm") * F.col("c_norm"),
                ),
                F.lit(0.0),
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_raw"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos_raw", 6).alias("cosine"),
            "rank",
        )
    )


def cosine_topk_numpy(corpus: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """Exact top-k cosine neighbors via Arrow-batched numpy matmul.

    Same semantics/output as :func:`cosine_topk_bruteforce`, different
    execution strategy: the query matrix is broadcast to executors and each
    Arrow batch of the corpus is scored as ONE ``(batch × dim) @ (dim × nq)``
    BLAS matmul inside ``mapInPandas``, keeping k+1 candidates per query per
    batch (k+1 so a self-match can't evict a true neighbor). Only
    ``partitions × nq × (k+1)`` rows reach the final window top-k.

    This is the preferred shape when |corpus| × |queries| × dim makes the
    per-pair expression path compute-bound: BLAS does the inner loop at
    memory bandwidth instead of one codegen'd multiply-add per element.
    Cosine sums differ from the sequential expression variant in final ULPs
    (pairwise vs sequential summation), so this variant is rows-only for the
    oracle; tests assert neighbor-set parity with the expression path.
    """
    import numpy as np
    import pandas as pd

    rows = queries.select("vec_id", "embedding").collect()  # driver-small by contract
    if not rows:  # empty query set: empty result, same schema as bruteforce
        return corpus.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, cosine double, rank int"
        )
    qids_l = np.array([r[0] for r in rows], dtype=np.int64)
    qm_l = np.array([list(r[1]) for r in rows], dtype=np.float64)
    qn_l = np.linalg.norm(qm_l, axis=1)
    qn_l = np.where(qn_l == 0.0, 1.0, qn_l)  # zero query vector → scores 0
    bq = corpus.sparkSession.sparkContext.broadcast((qids_l, qm_l, qn_l))

    def part_topk(batches):
        qids, qm, qn = bq.value
        nq = len(qids)
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            m = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            norms = np.linalg.norm(m, axis=1)
            norms = np.where(norms == 0.0, 1.0, norms)  # zero corpus vector → 0
            cos = (m @ qm.T) / np.outer(norms, qn)  # batch × nq
            keep = min(k + 1, len(ids))
            idx = np.argpartition(-cos, keep - 1, axis=0)[:keep]  # keep × nq
            flat = idx.T.ravel()  # query-major
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(qids, keep),
                    "neighbor_id": ids[flat],
                    "cosine": cos[flat, np.repeat(np.arange(nq), keep)],
                }
            )

    # r15 note: a fan_out before this mapInPandas was MEASURED as a
    # regression on the sibling PQ path (0.99→1.36 s interleaved): 32
    # tiny Arrow tasks cost more in per-task setup than one serial BLAS
    # pass over a bench-scale corpus. Left on the scan's partitioning.
    partial = corpus.mapInPandas(
        part_topk, "query_id long, neighbor_id long, cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        partial.filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rank")
    )


#: :func:`kmeans_assign` tests for convergence every this many iterations.
_KMEANS_CHECK_ROUNDS = 2


def kmeans_assign(corpus: DataFrame, k: int = 8, max_iter: int = 10) -> DataFrame:
    """Deterministic Lloyd's k-means over an embedding column: (id, cluster).

    The index-training step for :func:`cosine_topk_ivf` (whose centroids
    are otherwise taken from labels). Fully deterministic: initial
    centroids are the k lowest-id vectors, ties in the assignment break on
    the lower cluster id, so every run — and every engine — produces the
    same partition of the corpus.

    Scale shape per iteration (the classic distributed k-means):
    1. assignment: centroids broadcast (k·dim doubles), squared-L2 argmin
       computed map-side — the corpus never shuffles;
    2. update: per-(cluster, dim) mean via posexplode + partial-aggregated
       groupBy — the only shuffle, carrying k·dim partials per partition;
    3. convergence: assignments compared to the previous round every
       ``_KMEANS_CHECK_ROUNDS`` iterations — a driver-side count, one extra
       job per check. Once an assignment repeats, the centroids and so
       every later assignment repeat too, so the extra rounds a sparser
       check runs leave the result unchanged.
    ``localCheckpoint`` truncates lineage between rounds.
    """
    vecs = corpus.select(
        F.col("vec_id").alias("id"),
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("v"),
    ).localCheckpoint()

    init_w = Window.orderBy("id")  # k rows only — the global window is fine
    centroids = (
        vecs.orderBy("id")
        .limit(k)
        .select(
            (F.row_number().over(init_w) - 1).alias("cluster"),
            F.col("v").alias("centroid"),
        )
    )

    assign = None
    for i in range(max_iter):
        scored = vecs.join(F.broadcast(centroids)).withColumn(
            "dist",
            F.aggregate(
                F.zip_with("v", "centroid", lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, d: acc + d,
            ),
        )
        new_assign = (
            scored.groupBy("id")
            .agg(F.min(F.struct("dist", "cluster")).alias("m"))
            .select("id", F.col("m.cluster").alias("cluster"))
            .localCheckpoint()
        )
        if assign is not None and (
            (i + 1) % _KMEANS_CHECK_ROUNDS == 0 or i + 1 == max_iter
        ):
            moved = (
                new_assign.alias("n")
                .join(assign.alias("o"), "id")
                .filter(F.col("n.cluster") != F.col("o.cluster"))
                .count()
            )
            if moved == 0:
                assign = new_assign
                break
        assign = new_assign
        centroids = (
            vecs.join(assign, "id")
            .select("cluster", F.posexplode("v").alias("dim", "x"))
            .groupBy("cluster", "dim")
            .agg(F.avg("x").alias("mx"))
            .groupBy("cluster")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "mx"))),
                    lambda s: s.getField("mx"),
                ).alias("centroid")
            )
        )
    return assign.select(F.col("id").alias("vec_id"), "cluster")


def compute_centroids(corpus: DataFrame) -> DataFrame:
    """Coarse centroids as the element-wise mean per label/cluster id.

    Deterministic (no k-means iterations): posexplode → avg per (label,
    dim) → re-assemble. At 100 TB, centroid training would subsample; the
    aggregation shape is the same.
    """
    exploded = corpus.select(
        F.col("label").alias("centroid_id"),
        F.posexplode(F.col("embedding")).alias("dim", "v"),
    )
    return (
        exploded.groupBy("centroid_id", "dim")
        .agg(F.avg(F.col("v").cast("double")).alias("mean_v"))
        .groupBy("centroid_id")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("dim"), F.col("mean_v")))
                ),
                lambda s: s.getField("mean_v"),
            ).alias("centroid")
        )
    )


def cosine_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 2,
) -> DataFrame:
    """Approximate top-k: probe only the ``nprobe`` nearest centroid cells.

    1. Corpus → cell assignment: broadcast centroids, argmax cosine (narrow).
       In a stored layout this is the bucketing/partition column.
    2. Query → its ``nprobe`` nearest centroids (broadcast, tiny).
    3. Join corpus cells to query probes on cell id — prunes the candidate
       set to ~nprobe/|centroids| of the corpus — then exact top-k as in
       brute force.

    Output schema matches :func:`cosine_topk_bruteforce` for recall checks.
    """
    cent = centroids.select(
        F.col("centroid_id"), F.col("centroid")
    )

    def best_cells(df: DataFrame, vec: str, out: str, n: int) -> DataFrame:
        scored = df.join(F.broadcast(cent)).withColumn(
            "cell_cos", cosine(F.col(vec), F.col("centroid"))
        )
        w = Window.partitionBy(*df.columns).orderBy(F.desc("cell_cos"), F.asc("centroid_id"))
        return (
            scored.withColumn("cell_rank", F.row_number().over(w))
            .filter(F.col("cell_rank") <= n)
            .select(*df.columns, F.col("centroid_id").alias(out))
        )

    # r15: fan_out so the per-row centroid scoring runs at cluster
    # parallelism on narrow scans (exact expressions; no-op on wide scans)
    c = fan_out(corpus.select("vec_id", "embedding")).select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_vec")
    )
    q = queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec"))

    c_cells = best_cells(c, "c_vec", "cell", 1)
    q_cells = best_cells(q, "q_vec", "cell", nprobe)

    scored = (
        c_cells.join(F.broadcast(q_cells), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos_raw", cosine(F.col("q_vec"), F.col("c_vec")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_raw"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("cos_raw", 6).alias("cosine"), "rank")
    )


#: Hyperplane-LSH parameters of :func:`hyperplane_lsh_pairs`, shared with
#: its replay oracle in tools/: 48 sign bits in 8 bands of 6, and the seed
#: of the hyperplane matrix each executor regenerates.
_HYPER_NBITS, _HYPER_BANDS, _HYPER_SEED = 48, 8, 13


def hyperplane_lsh_pairs(corpus: DataFrame, threshold: float = 0.9) -> DataFrame:
    """Embedding near-dup pairs via random-hyperplane LSH + exact verify.

    The 100 TB path for :func:`embedding_neardup_pairs` (which is exact but
    all-pairs O(n²)):

    1. signatures: each Arrow batch is projected against 48 random
       hyperplanes in ONE numpy matmul; sign bits pack into a single long
       (sign-of-dot agreement probability is 1 - θ/π, the SimHash bound).
    2. banding: 8 chunks of 6 bits; any shared chunk
       → candidate. Only (band, chunk) keys shuffle.
    3. exact cosine verification on candidates — results are always a
       SUBSET of the exact operator's pairs (precision 1.0); recall is the
       banding capture probability, asserted in tests.

    The hyperplane matrix is regenerated per executor from
    ``_HYPER_SEED`` — deterministic, nothing shipped.
    """
    import numpy as np
    import pandas as pd

    chunk_bits = _HYPER_NBITS // _HYPER_BANDS

    def sigs(batches):
        R = None
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            if R is None:
                R = np.random.default_rng(_HYPER_SEED).standard_normal(
                    (_HYPER_NBITS, m.shape[1])
                )
            bits = (m @ R.T >= 0).astype(np.int64)  # batch × nbits
            weights = np.left_shift(np.int64(1), np.arange(_HYPER_NBITS, dtype=np.int64))
            yield pd.DataFrame(
                {"id": pdf["vec_id"].to_numpy(dtype=np.int64), "sig": bits @ weights}
            )

    signed = corpus.mapInPandas(sigs, "id long, sig long").repartition(F.col("id"))
    mask = (1 << chunk_bits) - 1
    banded = signed.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("sig"), b * chunk_bits)
                        .bitwiseAND(F.lit(mask).cast("long"))
                        .alias("chunk"),
                    )
                    for b in range(_HYPER_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("id", F.col("bk.band").alias("band"), F.col("bk.chunk").alias("chunk"))
    cands = (
        banded.alias("a")
        .join(banded.alias("b"), ["band", "chunk"])
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    vecs = corpus.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").alias("v"),
        norm(F.col("embedding")).alias("nrm"),
    )
    pairs = cands.join(
        vecs.select(F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na")),
        "id_a",
    ).join(
        vecs.select(F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb")),
        "id_b",
    )
    return (
        pairs.withColumn(
            "cos_raw",
            F.coalesce(
                F.try_divide(dot(F.col("va"), F.col("vb")), F.col("na") * F.col("nb")),
                F.lit(0.0),
            ),
        )
        .filter(F.col("cos_raw") >= threshold)
        .select("id_a", "id_b", F.round("cos_raw", 6).alias("cosine"))
    )


def l2_normalize(vec: Column) -> Column:
    """Unit-norm copy of a float vector (double precision); zero vectors
    pass through unchanged. Narrow projection — the standard pre-step before
    cosine retrieval so downstream similarity is a plain dot product."""
    n = norm(vec)
    return F.when(
        n > 0, F.transform(vec, lambda x: x.cast("double") / n)
    ).otherwise(F.transform(vec, lambda x: x.cast("double")))


def quantize_embeddings(df: DataFrame) -> DataFrame:
    """Symmetric int8 quantization per vector: q = floor(x·127/max|x| + ½).

    The storage-compression step of an embedding pipeline (4× smaller than
    float32, 8× than float64; recall loss ≤ ~0.5% at int8 in practice).
    Per-vector scale keeps it embarrassingly parallel — a narrow projection,
    no shuffle, no global calibration pass. ``floor(x+0.5)`` is used instead
    of round() so the DuckDB oracle (different rounding mode) matches
    bitwise. Output: (id, scale, q) with q int8-ranged ints plus the max
    absolute dequantization error.
    """
    # staged projections: each non-cheap intermediate (_v, _scale, q) is a
    # real column before reuse — inline subtrees re-evaluate per reference
    base = df.select(
        F.col("vec_id"),
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("_v"),
    ).withColumn(
        "_maxabs", F.array_max(F.transform("_v", lambda x: F.abs(x)))
    ).withColumn(
        # zero vector: scale 1 → q all zeros, no ANSI divide-by-zero abort
        "_scale",
        F.when(F.col("_maxabs") > 0, F.lit(127.0) / F.col("_maxabs")).otherwise(
            F.lit(1.0)
        ),
    )
    quant = base.withColumn(
        "q",
        F.transform(
            "_v", lambda x: F.floor(x * F.col("_scale") + F.lit(0.5)).cast("int")
        ),
    )
    dq_err = F.array_max(
        F.zip_with(
            "q",
            "_v",
            lambda qi, xi: F.abs(qi.cast("double") / F.col("_scale") - xi),
        )
    )
    return quant.select(
        F.col("vec_id"),
        F.round("_scale", 6).alias("scale"),
        "q",
        F.round(dq_err, 6).alias("max_err"),
    )


def embedding_neardup_pairs(corpus: DataFrame, threshold: float = 0.99) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (doc_a < doc_b, cos ≥ threshold).

    Exact, with LOSSLESS candidate pruning: for unit vectors
    ``cos(a,b) ≥ t  ⟺  ‖â−b̂‖ ≤ √(2−2t)``, and any 1-Lipschitz projection
    bounds that distance — here the first normalized coordinate, so
    ``|â₀−b̂₀| > √(2−2t)`` rules a pair out *provably*. Bucketing the
    projection at width √(2−2t) and equi-joining each row to its own and
    two adjacent buckets therefore finds every qualifying pair exactly
    once (left side keeps a single bucket, right side explodes ±1, like
    :func:`~.joins.range_join_within`), replacing the all-pairs
    nested-loop product with a shuffle join on compact bucket keys. Result
    set matches the unpruned join — the DuckDB theta-join oracle still
    hash-matches. The bound is exact in real arithmetic; the bucket width
    carries a 1e-6 relative slack so double rounding at the cosine
    threshold boundary cannot strand a qualifying pair two buckets away.

    Pruning power depends on the projection's spread vs √(2−2t): strong for
    tight thresholds / anisotropic corpora, weaker on isotropic noise
    (high-dim near-dup detection is LSH-hard in the worst case) — the
    recall-traded 100 TB paths remain :func:`hyperplane_lsh_pairs` and the
    IVF cell join. This entry is the exact anchor they are validated
    against.
    """
    import math

    eps = math.sqrt(max(2.0 - 2.0 * threshold, 1e-12)) * (1.0 + 1e-6)
    nv = norm(F.col("embedding"))
    p0 = F.coalesce(
        F.try_divide(F.element_at(F.col("embedding"), 1), nv), F.lit(0.0)
    )
    base = fan_out(corpus.select("vec_id", "embedding")).select(
        F.col("vec_id").alias("_id"),
        F.col("embedding").alias("_v"),
        nv.alias("_n"),
        F.floor(p0 / F.lit(eps)).alias("_b0"),
    )
    a = base.select(
        F.col("_id").alias("id_a"),
        F.col("_v").alias("va"),
        F.col("_n").alias("na"),
        F.col("_b0").alias("_bucket"),
    )
    b = base.select(
        F.col("_id").alias("id_b"),
        F.col("_v").alias("vb"),
        F.col("_n").alias("nb"),
        F.explode(
            F.array(F.col("_b0") - 1, F.col("_b0"), F.col("_b0") + 1)
        ).alias("_bucket"),
    )
    return (
        a.join(b, "_bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cos_raw",
            F.coalesce(
                F.try_divide(dot(F.col("va"), F.col("vb")), F.col("na") * F.col("nb")),
                F.lit(0.0),
            ),
        )
        .filter(F.col("cos_raw") >= threshold)
        .select("id_a", "id_b", F.round("cos_raw", 6).alias("cosine"))
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) ANN — the memory-bound scale path
# ---------------------------------------------------------------------------


#: Product-quantization shape of :func:`cosine_topk_pq`: subspaces per
#: vector and centroids per subspace.
_PQ_M, _PQ_KSUB = 8, 16


def pq_train_codebooks(sample):
    """Deterministic per-subspace Lloyd k-means over a training sample.

    ``sample`` is an (n × dim) float64 array of L2-normalized vectors;
    returns an (m × ksub × dim/m) codebook array. Seeding is deterministic
    (first-k distinct rows per subspace), so identical inputs give identical
    codebooks — no RNG anywhere.
    """
    import numpy as np

    m, ksub = _PQ_M, _PQ_KSUB
    n, dim = sample.shape
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    books = np.empty((m, ksub, dsub))
    for j in range(m):
        sub = sample[:, j * dsub : (j + 1) * dsub]
        # deterministic seeding: first ksub distinct subvectors (pad by
        # repeating the last when the sample has fewer distinct values)
        uniq = np.unique(sub, axis=0)
        cent = uniq[:ksub] if len(uniq) >= ksub else np.vstack(
            [uniq, np.repeat(uniq[-1:], ksub - len(uniq), axis=0)]
        )
        for _ in range(10):
            d = ((sub[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = d.argmin(axis=1)
            for c in range(ksub):
                mask = assign == c
                if mask.any():
                    cent[c] = sub[mask].mean(axis=0)
        books[j] = cent
    return books


def cosine_topk_pq(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    rerank: int | None = None,
) -> DataFrame:
    """Approximate top-k cosine neighbors via product quantization + ADC.

    The 100-TB ANN regime is memory-bound: a 64-dim float corpus is 256 B/
    vector, but its PQ code is ``m`` bytes (8 here, a 32× compression), so
    executors scan codes at cache speed and never touch raw vectors at
    query time. Codebooks train on a bounded, deterministic driver-side
    sample (the standard practice — FAISS trains PQ on ~100k vectors
    regardless of corpus size); each corpus Arrow batch is then encoded and
    scored distributedly: asymmetric distance computation (ADC) replaces
    the dot product with ``m`` table lookups per (query, code) pair, where
    each query's ``m × ksub`` lookup table holds its subspace dot products
    with every centroid.

    ``rerank=N`` enables the standard ADC+R refinement: the per-batch ADC
    top-N shortlist is re-scored with EXACT cosines against the raw batch
    vectors (still inside the same Arrow batch — no second pass, no join),
    so quantization error only affects *which* candidates survive, never
    their reported scores or relative order. On corpora where true
    neighbors barely outscore the noise floor (synthetic near-random
    embeddings are the worst case) re-ranking is what makes PQ usable.

    Same output shape as the exact paths (query_id, neighbor_id, score,
    rank); rows-only for the oracle (approximate by design) — recall vs the
    exact BLAS path is asserted in tests.

    Scale: codes + codebooks shuffle nothing; per-batch partial top-k keeps
    ``partitions × nq × (k+1)`` rows before the final window, exactly like
    :func:`cosine_topk_numpy`. Vectors are L2-normalized before encoding so
    ADC inner product ≈ cosine.
    """
    import numpy as np
    import pandas as pd

    qrows = queries.select("vec_id", "embedding").collect()  # driver-small by contract
    if not qrows:
        return corpus.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, score double, rank int"
        )
    # deterministic bounded sample: smallest 2048 ids (stable under
    # partitioning; PQ training only needs a representative sample)
    srows = (
        corpus.select("vec_id", "embedding").orderBy("vec_id").limit(2048).collect()
    )
    if not srows:  # empty corpus: empty result, like the exact paths
        return corpus.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, score double, rank int"
        )
    sm = np.array([list(r[1]) for r in srows], dtype=np.float64)
    sn = np.linalg.norm(sm, axis=1)
    sm = sm / np.where(sn == 0.0, 1.0, sn)[:, None]
    books = pq_train_codebooks(sm)

    qids_l = np.array([r[0] for r in qrows], dtype=np.int64)
    qm_l = np.array([list(r[1]) for r in qrows], dtype=np.float64)
    qn_l = np.linalg.norm(qm_l, axis=1)
    qm_l = qm_l / np.where(qn_l == 0.0, 1.0, qn_l)[:, None]
    dsub = qm_l.shape[1] // _PQ_M
    # LUT[q, j, c] = <q_j, centroid_jc>  → nq × m × ksub
    lut_l = np.einsum("qjd,jcd->qjc", qm_l.reshape(len(qids_l), _PQ_M, dsub), books)
    bq = corpus.sparkSession.sparkContext.broadcast((qids_l, qm_l, lut_l, books))

    def part_topk(batches):
        qids, qm, lut, bks = bq.value
        nq = len(qids)
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            mtx = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            nrm = np.linalg.norm(mtx, axis=1)
            mtx = mtx / np.where(nrm == 0.0, 1.0, nrm)[:, None]
            sub = mtx.reshape(len(ids), _PQ_M, dsub)
            # encode: nearest centroid per subspace (batch × m)
            codes = np.empty((len(ids), _PQ_M), dtype=np.int64)
            for j in range(_PQ_M):
                d = ((sub[:, j, None, :] - bks[None, j]) ** 2).sum(axis=2)
                codes[:, j] = d.argmin(axis=1)
            # ADC: score[b, q] = sum_j LUT[q, j, codes[b, j]]
            scores = np.zeros((len(ids), nq))
            for j in range(_PQ_M):
                scores += lut[:, j, :][:, codes[:, j]].T  # batch × nq
            if rerank:
                # exact re-rank of the per-batch ADC shortlist: quantization
                # picks the candidates, true cosines order them
                keep0 = min(rerank, len(ids))
                idx0 = np.argpartition(-scores, keep0 - 1, axis=0)[:keep0]
                sel = idx0.T  # nq × keep0 row indices into the batch
                exact_sc = np.einsum("qkd,qd->qk", mtx[sel], qm)
                keep = min(k + 1, keep0)
                top = np.argpartition(-exact_sc, keep - 1, axis=1)[:, :keep]
                rows = np.take_along_axis(sel, top, axis=1)  # nq × keep
                out_sc = np.take_along_axis(exact_sc, top, axis=1)
                yield pd.DataFrame(
                    {
                        "query_id": np.repeat(qids, keep),
                        "neighbor_id": ids[rows.ravel()],
                        "score": out_sc.ravel(),
                    }
                )
                continue
            keep = min(k + 1, len(ids))
            idx = np.argpartition(-scores, keep - 1, axis=0)[:keep]
            flat = idx.T.ravel()
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(qids, keep),
                    "neighbor_id": ids[flat],
                    "score": scores[flat, np.repeat(np.arange(nq), keep)],
                }
            )

    # r15 note: a fan_out before this mapInPandas MEASURED 0.99→1.36 s
    # (regression) — per-task Arrow setup dominates a bench-scale corpus.
    partial = corpus.mapInPandas(
        part_topk, "query_id long, neighbor_id long, score double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        partial.filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("score", 6).alias("score"),
            "rank",
        )
    )


def rrf_fuse(rankings: dict[str, DataFrame], topk: int = 20) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Büttcher 2009): combine
    ranked lists with score Σ 1/(k0 + rank), the standard way to merge a
    lexical (BM25) and a dense (ANN) retriever without score calibration —
    ranks, not raw scores, are the only thing the two systems share.

    ``rankings`` maps a label to a ranked frame (doc_id, rank); each
    contributes a ``rank_<label>`` column (NULL when that retriever did
    not surface the id — contributing 0 to the fused score). k0=60 is the
    paper's constant.

    Scale: inputs are top-k lists (|queries|·k rows), so every join here is
    broadcast-sized regardless of corpus size — fusion cost is independent
    of the data volume; the heavy lifting stays in the retrievers.
    """
    fused = None
    for label, df in rankings.items():
        part = df.select(F.col("doc_id"), F.col("rank").alias(f"rank_{label}"))
        fused = part if fused is None else fused.join(part, "doc_id", "full_outer")
    score = None
    for label in rankings:
        c = F.coalesce(
            F.lit(1.0) / (F.lit(60.0) + F.col(f"rank_{label}")), F.lit(0.0)
        )
        score = c if score is None else score + c
    return (
        fused.withColumn("rrf_score", F.round(score, 6))
        .orderBy(F.desc("rrf_score"), F.asc("doc_id"))
        .limit(topk)
    )
