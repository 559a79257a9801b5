"""Approximate nearest-neighbor search — the scale path for vector search.

The reference leans on Qdrant's HNSW index (SURVEY §4 O10) — the one physical
capability Spark has no built-in for. Strategy ladder:

1. ``knn_topk`` (operators/search.py) — brute force, the correctness baseline.
2. ``ivf_build`` / ``ivf_search`` — IVF-style partition pruning: k-means-lite
   centroids (deterministic seeded sample + Lloyd iterations via DataFrame
   ops), assignment column, then search only the ``n_probe`` closest
   clusters. At 100 TB the assignment column becomes a partition key so
   cluster pruning = partition pruning in the parquet scan.
3. ``lsh_similarity_join`` — random-hyperplane LSH bucket join for all-pairs
   similarity at scale (MinHash analogue for dense vectors).

Everything is DataFrame-native; the only driver-side data is the centroid set
(small, broadcast).
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from frappe_data_pipelines_spark.functions.vectors import dot_product, vector_norm
from frappe_data_pipelines_spark.operators import kernel
from frappe_data_pipelines_spark.operators.search import _score


def _seeded_planes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def lsh_bucket_expr(vec_col, planes: np.ndarray):
    """Signed-projection bucket id: bit i = sign(v · plane_i). Pure column
    expression (no UDF): sum of shifted indicator bits."""
    bits = []
    for i, p in enumerate(planes):
        proj = F.aggregate(
            F.zip_with(
                vec_col.cast("array<double>"),
                F.array(*[F.lit(float(x)) for x in p]),
                lambda a, b: a * b,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(proj >= 0, F.lit(1 << i)).otherwise(F.lit(0)))
    return sum(bits[1:], bits[0]).cast("int")


def lsh_similarity_join(
    vectors: DataFrame,
    n_planes: int = 8,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """All-pairs candidates via shared hyperplane bucket, then exact cosine.
    Shuffles on the small bucket key instead of crossJoin's O(n²)."""
    from frappe_data_pipelines_spark.functions.vectors import (
        dot_product,
        vector_norm,
    )

    dim = len(vectors.select(vec_col).first()[0])
    planes = _seeded_planes(dim, n_planes, seed)
    # norm hoisted to one per ROW instead of two per PAIR: cosine here is
    # dot/(nx*ny) with the identical fold arithmetic, so results (and the
    # oracle hash) are bit-for-bit unchanged while the per-pair cost drops
    # from three zip_with folds to one
    b = vectors.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
        lsh_bucket_expr(F.col(vec_col), planes).alias("bucket"),
        vector_norm(F.col(vec_col)).alias("nrm"),
    )
    x, y = b.alias("x"), b.alias("y")
    return (
        x.join(y, "bucket")
        .filter(F.col("x.id") < F.col("y.id"))
        .withColumn(
            "cos",
            F.round(
                F.try_divide(
                    dot_product(F.col("x.v"), F.col("y.v")),
                    F.col("x.nrm") * F.col("y.nrm"),
                ),
                6,
            ),
        )
        .filter(F.col("cos") >= threshold)
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"), "cos")
    )


# -- IVF -------------------------------------------------------------------

def ivf_build(
    vectors: DataFrame,
    n_clusters: int = 16,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_train_rows: int | None = None,
) -> tuple[DataFrame, list[list[float]]]:
    """K-means over the vectors with deterministic init (hash-sampled rows).
    Returns (assigned DataFrame with ``cluster`` column, centroids).

    Iterations are DataFrame aggregations (posexplode → mean per position) —
    only the centroid list (n_clusters × dim floats) ever reaches the driver.

    **Scale note (VERDICT r4):** each iteration is a pass over the training
    set. With the default ``max_train_rows=None`` that is the FULL corpus
    ×``n_iter`` — fine at bench scale, wasteful at 100 TB. Pass
    ``max_train_rows`` (e.g. 100_000) to train the centroids on a bounded
    deterministic hash-sample instead (the standard IVF recipe — faiss
    trains on ~max(10k·k, 1M) sampled vectors); the final full-corpus pass
    then only ASSIGNS, exactly once. The sample is hash-ordered
    (md5 of id), so it is stable across runs and partitionings.
    """
    train = vectors.select(id_col, vec_col)
    if max_train_rows is not None:
        # TakeOrderedAndProject: map-side partial top-k per partition, one
        # bounded driver-side merge — no full sort, no full shuffle
        train = train.orderBy(F.md5(F.col(id_col).cast("string"))).limit(
            max(max_train_rows, n_clusters)
        )
        train = train.persist()

    init_rows = (
        train.orderBy(F.md5(F.col(id_col).cast("string")))
        .limit(n_clusters)
        .collect()
    )
    centroids = [list(map(float, r[vec_col])) for r in init_rows]

    for _ in range(n_iter):
        assigned = _assign(train, centroids, vec_col)
        agg = (
            assigned.select("cluster", F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "x"))
            .groupBy("cluster", "pos")
            .agg(F.avg("x").alias("m"))
            .groupBy("cluster")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select("cluster", F.transform("pm", lambda s: s["m"]).alias("centroid"))
            .collect()
        )
        new = {r["cluster"]: list(r["centroid"]) for r in agg}
        centroids = [new.get(i, centroids[i]) for i in range(len(centroids))]
    if max_train_rows is not None:
        train.unpersist()
    return _assign(vectors, centroids, vec_col), centroids


def _assign(
    vectors: DataFrame,
    centroids: list[list[float]],
    vec_col: str,
    keep_dist: bool = False,
) -> DataFrame:
    cents = F.array(
        *[
            F.struct(F.lit(i).alias("cid"), F.array(*[F.lit(float(x)) for x in c]).alias("c"))
            for i, c in enumerate(centroids)
        ]
    )
    v = F.col(vec_col).cast("array<double>")
    dist = lambda c: F.aggregate(  # noqa: E731 — squared L2 to centroid
        F.zip_with(v, c, lambda a, b: (a - b) * (a - b)), F.lit(0.0), lambda acc, x: acc + x
    )
    best = F.aggregate(
        cents,
        F.struct(F.lit(-1).alias("cid"), F.lit(float("inf")).alias("d")),
        lambda acc, s: F.when(dist(s["c"]) < acc["d"], F.struct(s["cid"].alias("cid"), dist(s["c"]).alias("d"))).otherwise(acc),
    )
    out = vectors.withColumn("cluster", best["cid"])
    if keep_dist:
        out = out.withColumn("centroid_dist", best["d"])
    return out


def ivf_search(
    assigned: DataFrame,
    centroids: list[list[float]],
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Search only the n_probe clusters whose centroids are closest to the
    query. The ``cluster IN (...)`` predicate prunes partitions when the
    table is written partitioned by cluster."""
    q = np.array(query_vec, dtype=np.float64)
    d = [(i, float(np.sum((np.array(c) - q) ** 2))) for i, c in enumerate(centroids)]
    probe = [i for i, _ in sorted(d, key=lambda t: t[1])[:n_probe]]
    return (
        _score(assigned.filter(F.col("cluster").isin(probe)), query_vec, vec_col)
        .orderBy(F.desc("score"), F.col(id_col).asc())
        .limit(k)
    )


def mllib_lsh_similarity_join(
    vectors: DataFrame,
    threshold_dist: float = 1.2,
    bucket_length: float = 0.5,
    num_tables: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """SURVEY C5's named scale path: Spark MLlib's
    ``BucketedRandomProjectionLSH`` (Euclidean LSH) approxSimilarityJoin.
    For L2-normalized vectors, euclidean² = 2 - 2·cos, so a distance
    threshold maps directly to a cosine floor (dist 1.2 ≈ cos 0.28).
    Returns canonical (id_a < id_b, dist) candidate pairs."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector
    from pyspark.sql import functions as F  # noqa: F811 — local alias

    feats = vectors.select(
        F.col(id_col).alias("id"),
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features"),
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes",
        bucketLength=bucket_length, numHashTables=num_tables, seed=seed,
    )
    model = lsh.fit(feats)
    joined = model.approxSimilarityJoin(feats, feats, threshold_dist, distCol="dist")
    return (
        joined.filter(F.col("datasetA.id") < F.col("datasetB.id"))
        .select(
            F.col("datasetA.id").alias("id_a"),
            F.col("datasetB.id").alias("id_b"),
            F.round("dist", 6).alias("dist"),
        )
    )


# -- Product quantization ---------------------------------------------------

def pq_train(
    vectors: DataFrame,
    m_subvectors: int = 8,
    k_centroids: int = 16,
    n_iter: int = 5,
    sample_rows: int = 10000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> np.ndarray:
    """Train PQ codebooks: split dim into ``m`` subvectors, k-means each
    subspace. Returns codebooks array (m, k, dsub).

    Training collects a bounded deterministic sample to the driver (standard
    PQ practice — codebooks are tiny; here m*k*dsub floats). Encoding and
    search stay fully distributed. Deterministic: hash-ordered sample,
    seeded init, fixed iteration count."""
    X = _collect_normalized_sample(vectors, id_col, vec_col, sample_rows)
    if X.shape[1] % m_subvectors:
        raise ValueError(f"dim {X.shape[1]} not divisible by m={m_subvectors}")
    rng = np.random.default_rng(seed)
    return _fit_codebooks(X, m_subvectors, k_centroids, n_iter, rng)


def _collect_normalized_sample(
    vectors: DataFrame, id_col: str, vec_col: str, sample_rows: int
) -> np.ndarray:
    """Bounded deterministic training sample: hash-ordered, L2-normalized so
    ADC's squared-euclidean ranking is monotone with cosine (SURVEY §1.3)."""
    sample = (
        vectors.select(id_col, vec_col)
        .orderBy(F.md5(F.col(id_col).cast("string")))
        .limit(sample_rows)
        .collect()
    )
    X = np.array([list(map(float, r[vec_col])) for r in sample], dtype=np.float64)
    nrm = np.linalg.norm(X, axis=1, keepdims=True)
    return np.divide(X, nrm, out=np.zeros_like(X), where=nrm > 0)


def _fit_codebooks(
    X: np.ndarray, m_subvectors: int, k_centroids: int, n_iter: int, rng
) -> np.ndarray:
    n, dim = X.shape
    dsub = dim // m_subvectors
    books = np.empty((m_subvectors, k_centroids, dsub))
    for m in range(m_subvectors):
        sub = X[:, m * dsub : (m + 1) * dsub]
        cents = sub[rng.choice(n, size=k_centroids, replace=n < k_centroids)]
        for _ in range(n_iter):
            d = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d.argmin(axis=1)
            for c in range(k_centroids):
                mask = assign == c
                if mask.any():
                    cents[c] = sub[mask].mean(axis=0)
        books[m] = cents
    return books


def _encode_np(X: np.ndarray, books: np.ndarray) -> np.ndarray:
    mm, kk, dsub = books.shape
    codes = np.empty((len(X), mm), dtype=np.int32)
    for m in range(mm):
        sub = X[:, m * dsub : (m + 1) * dsub]
        d = ((sub[:, None, :] - books[m][None, :, :]) ** 2).sum(axis=2)
        codes[:, m] = d.argmin(axis=1)
    return codes


def _reconstruct_np(codes: np.ndarray, books: np.ndarray) -> np.ndarray:
    mm, kk, dsub = books.shape
    out = np.empty((len(codes), mm * dsub))
    for m in range(mm):
        out[:, m * dsub : (m + 1) * dsub] = books[m][codes[:, m]]
    return out


def opq_train(
    vectors: DataFrame,
    m_subvectors: int = 8,
    k_centroids: int = 16,
    n_iter: int = 5,
    opq_iters: int = 10,
    sample_rows: int = 10000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> tuple[np.ndarray, np.ndarray]:
    """Optimized PQ (Ge et al., CVPR'13, non-parametric variant): learn an
    orthonormal rotation R that redistributes variance across subspaces
    before quantizing, minimizing ‖XR − q(XR)‖². Alternates (a) fit/assign
    PQ codebooks on the rotated sample with (b) the Procrustes update
    R ← UVᵀ from SVD(Xᵀ·X̂). Returns ``(R, codebooks)``; pass R as the
    ``rotation`` argument of pq_encode/pq_search/pq_search_rerank.

    Why it matters at scale: real embedding matrices concentrate energy in
    a few correlated directions; plain PQ splits dims positionally, so one
    subspace eats most of the distortion. The rotation is a dim×dim matrix
    trained driver-side on the same bounded sample as pq_train — encoding
    stays fully distributed (one extra matmul per Arrow batch)."""
    X = _collect_normalized_sample(vectors, id_col, vec_col, sample_rows)
    dim = X.shape[1]
    if dim % m_subvectors:
        raise ValueError(f"dim {dim} not divisible by m={m_subvectors}")
    rng = np.random.default_rng(seed)
    R = np.eye(dim)
    books = None
    for _ in range(opq_iters):
        Y = X @ R
        books = _fit_codebooks(Y, m_subvectors, k_centroids, n_iter, rng)
        Yhat = _reconstruct_np(_encode_np(Y, books), books)
        U, _s, Vt = np.linalg.svd(X.T @ Yhat)
        R = U @ Vt
    # final codebooks for the final rotation
    books = _fit_codebooks(X @ R, m_subvectors, k_centroids, n_iter, rng)
    return R, books


def pq_encode(
    vectors: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rotation: np.ndarray | None = None,
) -> DataFrame:
    """(id, codes ARRAY<INT>): each subvector replaced by its nearest
    codebook index — 64 float32 dims become m small ints (here 8 bytes/vec
    at k<=256). Arrow-batched numpy argmin; no shuffle. ``rotation`` (from
    opq_train) is one matmul per batch before quantizing."""
    import pandas as pd

    sess = vectors.sparkSession
    bc = sess.sparkContext.broadcast((codebooks, rotation))

    def encode(batches):
        books, rot = bc.value
        for pdf in batches:
            X = np.stack(pdf[vec_col].map(lambda v: np.asarray(v, dtype=np.float64)))
            nrm = np.linalg.norm(X, axis=1, keepdims=True)
            X = np.divide(X, nrm, out=np.zeros_like(X), where=nrm > 0)
            if rot is not None:
                X = X @ rot
            codes = _encode_np(X, books)
            yield pd.DataFrame({"id": pdf[id_col], "codes": list(codes.tolist())})

    return kernel.map_batches(vectors.select(id_col, vec_col), encode, "id long, codes array<int>")


def pq_search(
    codes_df: DataFrame,
    codebooks: np.ndarray,
    query_vec: list[float],
    k: int = 10,
    rotation: np.ndarray | None = None,
) -> DataFrame:
    """Asymmetric-distance search: precompute the m×k lookup table of
    (query-subvector ↔ centroid) squared distances once, then each vector's
    approximate distance is m table lookups — no float math per candidate.
    Top-k with deterministic (dist ASC, id ASC) tie-break. ``rotation``
    (OPQ) is applied to the query once, driver-side — free."""
    import pandas as pd

    q = np.asarray(query_vec, dtype=np.float64)
    qn = np.linalg.norm(q)
    if qn > 0:
        q = q / qn
    if rotation is not None:
        q = q @ rotation
    mm, kk, dsub = codebooks.shape
    lut = np.empty((mm, kk))
    for m in range(mm):
        lut[m] = (((codebooks[m] - q[m * dsub : (m + 1) * dsub])) ** 2).sum(axis=1)
    sess = codes_df.sparkSession
    bc = sess.sparkContext.broadcast(lut)

    def score(batches):
        table = bc.value
        cols = np.arange(table.shape[0])
        for pdf in batches:
            codes = np.stack(pdf["codes"].map(np.asarray))
            dist = table[cols[None, :], codes].sum(axis=1)
            yield pd.DataFrame({"id": pdf["id"], "adc_dist": np.round(dist, 6)})

    scored = kernel.map_batches(codes_df, score, "id long, adc_dist double")
    return scored.orderBy(F.col("adc_dist").asc(), F.col("id").asc()).limit(k)


def ivf_write(assigned: DataFrame, centroids: list[list[float]], path: str) -> None:
    """Persist an IVF index: vectors written PARTITIONED BY cluster (so
    ``ivf_search``'s n_probe filter becomes parquet partition pruning —
    proven in tests/test_ann.py) + centroids as a JSON sidecar."""
    import json
    import os

    assigned.write.partitionBy("cluster").mode("overwrite").parquet(path)
    with open(os.path.join(path, "_centroids.json"), "w") as f:
        json.dump(centroids, f)


def ivf_read(spark, path: str) -> tuple[DataFrame, list[list[float]]]:
    """Load a persisted IVF index (vectors DataFrame + centroid list)."""
    import json
    import os

    with open(os.path.join(path, "_centroids.json")) as f:
        centroids = json.load(f)
    return spark.read.parquet(path), centroids


def ivf_append(
    spark,
    path: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    drift_threshold: float = 2.0,
) -> dict:
    """Incremental IVF maintenance: assign a new batch to the EXISTING
    centroids and append it into the partitioned index — no retrain, no
    rewrite of resident partitions. This is how a 100 TB index absorbs a
    daily embedding delta: the append costs one assignment pass over the
    batch plus partitioned file appends; `ivf_search`'s partition pruning
    is unchanged because appended files land in their `cluster=` dirs.

    The quantization-drift guard makes staleness measurable instead of
    silent (faiss's recommended practice): the index stores its training
    mean squared centroid distance in a `_ivf_stats.json` sidecar
    (computed lazily from resident vectors for pre-stats indexes), and
    each append reports `drift_ratio` = batch MSE / train MSE.
    `needs_retrain` fires when the ratio exceeds ``drift_threshold`` —
    the batch lands either way (search stays correct, just less pruned;
    recall via n_probe is unaffected, only efficiency decays).

    Returns ``{"appended", "batch_mse", "train_mse", "drift_ratio",
    "needs_retrain", "n_rows"}``.
    """
    import json
    import os

    _, centroids = ivf_read(spark, path)
    stats_path = os.path.join(path, "_ivf_stats.json")
    if os.path.exists(stats_path):
        with open(stats_path) as f:
            stats = json.load(f)
    else:
        resident = spark.read.parquet(path)
        base = _assign(
            resident.select(id_col, vec_col), centroids, vec_col, keep_dist=True
        ).agg(
            F.avg("centroid_dist").alias("mse"), F.count(F.lit(1)).alias("n")
        ).first()
        stats = {"train_mse": float(base["mse"]), "n_rows": int(base["n"])}

    batch = _assign(
        new_vectors.select(id_col, vec_col), centroids, vec_col, keep_dist=True
    )
    agg = batch.agg(
        F.avg("centroid_dist").alias("mse"), F.count(F.lit(1)).alias("n")
    ).first()
    batch_mse, n_new = float(agg["mse"] or 0.0), int(agg["n"])
    if n_new:
        batch.drop("centroid_dist").write.partitionBy("cluster").mode(
            "append"
        ).parquet(path)
    stats["n_rows"] += n_new
    with open(stats_path, "w") as f:
        json.dump(stats, f)
    ratio = batch_mse / stats["train_mse"] if stats["train_mse"] > 0 else float("inf")
    return {
        "appended": n_new,
        "batch_mse": batch_mse,
        "train_mse": stats["train_mse"],
        "drift_ratio": ratio,
        "needs_retrain": bool(n_new) and ratio > drift_threshold,
        "n_rows": stats["n_rows"],
    }


def pq_search_rerank(
    codes_df: DataFrame,
    vectors: DataFrame,
    codebooks: np.ndarray,
    query_vec: list[float],
    k: int = 10,
    rerank_depth: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rotation: np.ndarray | None = None,
) -> DataFrame:
    """IVFADC-style two-stage search: PQ asymmetric-distance shortlist of
    ``rerank_depth`` candidates (scans only the m-byte codes), then exact
    cosine re-rank of the shortlist against the full vectors.

    This is the standard fix for ADC's quantization error: recall is set by
    whether the true neighbors survive into the shortlist (depth/k margin),
    while the expensive float math touches only ``rerank_depth`` rows. At
    100 TB the codes table is ~1% the bytes of the vectors table, and the
    re-rank join is a broadcast of ``rerank_depth`` ids. Measured in
    ANN_SWEEP.json (pq+rerank rows)."""
    shortlist = pq_search(codes_df, codebooks, query_vec, k=rerank_depth, rotation=rotation).select("id")
    semi = vectors.join(F.broadcast(shortlist), vectors[id_col] == F.col("id"), "left_semi")
    return (
        _score(semi, query_vec, vec_col)
        .orderBy(F.desc("score"), F.col(id_col).asc())
        .limit(k)
    )


def knn_batch(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    pair_filter=None,
) -> DataFrame:
    """Batched multi-query KNN: ALL queries scored in ONE job — broadcast
    the query set against the collection, per-query top-k via a two-level
    reduction.

    This is the serving shape at scale: per-query jobs pay scheduler+scan
    overhead per query; batching amortizes one collection scan across the
    whole query set (queries/sec scales with cluster width, verified in
    ANN_SWEEP.json batch rows).

    A naive ``Window.partitionBy(query_id)`` over the scored relation would
    shuffle the ENTIRE |vectors|x|queries| product into only |queries|
    partitions — each query's full corpus scan landing on one task (ADVICE
    r2). Instead, a map-side local top-k (bounded pandas heap per input
    partition, same (score desc, id asc) total order as the final ranking,
    so it keeps every row that could reach the global top-k) runs BEFORE
    the window, and the merge shuffles only ≤ partitions·|queries|·k rows.
    """
    # hoist both norms out of the pair loop: cosine(a,q) recomputed per
    # pair costs THREE array aggregates (dot, |a|, |q|) × |vectors|·|queries|
    # rows; |a| depends only on the vector row and |q| only on the query
    # row, so each is computed once and the pair pays one dot product.
    # sqrt(Σa²)·sqrt(Σq²) is the exact same double arithmetic as inline
    # cosine_similarity — hoisting changes evaluation count, not values.
    vnorm = vectors.withColumn("__vn", vector_norm(F.col(vec_col)))
    qnorm = queries.withColumn(
        "__qn", vector_norm(F.col(query_vec_col).cast("array<double>"))
    )
    joined = vnorm.join(F.broadcast(qnorm))
    if pair_filter is not None:
        # per-pair eligibility (e.g. hard-negative mining excludes a
        # query's positive set) — applied BEFORE the projection so it can
        # reference any vector or query column, and before the local
        # top-k so ineligible rows never occupy heap slots
        joined = joined.where(pair_filter)
    scored = (
        joined
        .select(
            F.col(query_id_col),
            F.col(id_col),
            F.round(
                F.try_divide(
                    dot_product(F.col(vec_col), F.col(query_vec_col).cast("array<double>")),
                    F.col("__vn") * F.col("__qn"),
                ),
                6,
            ).alias("score"),
        )
        # NaN scores (an embedding containing NaN) would rank FIRST under
        # Spark's DESC (NaN = largest double) but LAST under pandas
        # sort_values — the local prune would drop a row the global window
        # ranks top. Null scores (zero vectors via try_divide) carry no
        # ranking signal either. Exclude both so the pruned path is
        # rank-identical to a naive single-window implementation.
        .where(F.col("score").isNotNull() & ~F.isnan("score"))
    )

    def _local_topk(batches):
        import pandas as pd

        best = None
        for pdf in batches:
            both = pdf if best is None else pd.concat([best, pdf], ignore_index=True)
            both = both.sort_values(
                [query_id_col, "score", id_col], ascending=[True, False, True]
            )
            # dropna=False: a null query id is a legal (if odd) key — the
            # final Window.partitionBy keeps NULL as its own partition, so
            # the local prune must too or that query returns no rows
            best = both.groupby(query_id_col, sort=False, dropna=False).head(k)
        if best is not None:
            yield best

    pruned = kernel.map_batches(scored, _local_topk, scored.schema)

    from pyspark.sql import Window

    w = Window.partitionBy(query_id_col).orderBy(F.desc("score"), F.col(id_col).asc())
    return (
        pruned.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def pq_write(
    codes_df: DataFrame,
    codebooks: np.ndarray,
    path: str,
    rotation: np.ndarray | None = None,
) -> None:
    """Persist a PQ index: the codes table as parquet (m small ints per
    vector — ~1-2% of the float vectors' bytes) + codebooks as a JSON
    sidecar. The codes table is the thing that scans at query time; at
    100 TB of vectors the codes are the only full-scan surface and fit in
    page cache 50x more often."""
    import json
    import os

    codes_df.write.mode("overwrite").parquet(path)
    with open(os.path.join(path, "_codebooks.json"), "w") as f:
        json.dump(codebooks.tolist(), f)
    if rotation is not None:
        with open(os.path.join(path, "_rotation.json"), "w") as f:
            json.dump(rotation.tolist(), f)


def pq_read(spark, path: str):
    """Load a persisted PQ index: (codes DataFrame, codebooks, rotation).
    ``rotation`` is None for plain-PQ indexes (backward compatible)."""
    import json
    import os

    with open(os.path.join(path, "_codebooks.json")) as f:
        books = np.array(json.load(f))
    rot_path = os.path.join(path, "_rotation.json")
    rotation = None
    if os.path.exists(rot_path):
        with open(rot_path) as f:
            rotation = np.array(json.load(f))
    return spark.read.parquet(path), books, rotation


# -- HNSW per partition ------------------------------------------------------

class HNSWIndex:
    """Minimal numpy HNSW (Malkov & Yashunin, TPAMI'18): layered greedy
    search over a small-world graph. Deterministic — level assignment comes
    from a hash of the insert order, not an RNG stream.

    This is the per-partition building block of ``hnsw_partition_search``;
    it indexes ONE partition's vectors (≤ a few hundred MB by
    maxPartitionBytes), never the whole table. A C-backed library would
    drop in here unchanged (same build/search contract) — pure numpy keeps
    the container dependency-free while exercising the real algorithm.
    """

    def __init__(self, M: int = 8, ef_construction: int = 64, ml: float | None = None):
        self.M = M
        self.M0 = 2 * M  # bottom layer gets double degree (paper §4.1)
        self.ef_construction = ef_construction
        self.ml = ml if ml is not None else 1.0 / np.log(M)
        self.X: np.ndarray | None = None
        self.levels: list[int] = []
        self.graphs: list[dict[int, list[int]]] = []  # graphs[l][node] = neighbors
        self.entry: int = -1

    @staticmethod
    def _level_for(i: int, ml: float) -> int:
        # deterministic "uniform" in (0,1) from the insert index
        h = int.from_bytes(hashlib.md5(str(i).encode()).digest()[:8], "big")
        u = (h + 1) / float(1 << 64)
        return int(-np.log(u) * ml)

    def _dist(self, q: np.ndarray, idxs) -> np.ndarray:
        d = self.X[idxs] - q
        return np.einsum("ij,ij->i", d, d)

    def _search_layer(self, q: np.ndarray, entry: int, ef: int, layer: int) -> list[int]:
        """Beam search in one layer; returns up to ef candidates (ids)."""
        import heapq

        g = self.graphs[layer]
        visited = {entry}
        d0 = float(self._dist(q, [entry])[0])
        cand = [(d0, entry)]           # min-heap by distance
        best = [(-d0, entry)]          # max-heap of current ef best
        while cand:
            d, c = heapq.heappop(cand)
            if d > -best[0][0]:
                break
            for nb in g.get(c, ()):
                if nb in visited:
                    continue
                visited.add(nb)
                dn = float(self._dist(q, [nb])[0])
                if len(best) < ef or dn < -best[0][0]:
                    heapq.heappush(cand, (dn, nb))
                    heapq.heappush(best, (-dn, nb))
                    if len(best) > ef:
                        heapq.heappop(best)
        return [n for _, n in sorted((-d, n) for d, n in best)]

    def _select_neighbors(self, q_idx: int, candidates: list[int], m: int) -> list[int]:
        d = self._dist(self.X[q_idx], candidates)
        order = np.argsort(d, kind="stable")[:m]
        return [candidates[int(i)] for i in order]

    def build(self, X: np.ndarray) -> "HNSWIndex":
        self.X = None
        self.levels = []
        self.graphs = []
        self.entry = -1
        self._top = -1
        return self.extend(X)

    def extend(self, X_new: np.ndarray) -> "HNSWIndex":
        """Insert ``X_new`` rows AFTER the existing nodes — the incremental
        half of the persisted-index lifecycle (``hnsw_append``). Level
        assignment hashes the GLOBAL insert index, so
        ``build(concat(A, B)) == build(A).extend(B)`` exactly (same levels,
        same insertion order, same neighbor selection) — differential-
        tested in tests/test_ann.py."""
        X_new = np.ascontiguousarray(X_new, dtype=np.float64)
        lo = 0 if self.X is None else len(self.X)
        self.X = X_new if self.X is None else np.concatenate([self.X, X_new])
        n = len(self.X)
        self.levels.extend(self._level_for(i, self.ml) for i in range(lo, n))
        top = getattr(self, "_top", len(self.graphs) - 1 if self.graphs else -1)
        for i in range(lo, n):
            li = self.levels[i]
            while len(self.graphs) <= li:
                self.graphs.append({})
            if self.entry < 0:
                self.entry, top = i, li
                for l in range(li + 1):
                    self.graphs[l][i] = []
                continue
            ep = self.entry
            # greedy descent through layers above li
            for l in range(top, li, -1):
                ep = self._search_layer(self.X[i], ep, 1, l)[0]
            # insert with ef_construction candidates from li down
            for l in range(min(li, top), -1, -1):
                cands = self._search_layer(self.X[i], ep, self.ef_construction, l)
                m = self.M0 if l == 0 else self.M
                nbrs = self._select_neighbors(i, cands, m)
                self.graphs[l][i] = list(nbrs)
                for nb in nbrs:
                    lst = self.graphs[l].setdefault(nb, [])
                    lst.append(i)
                    if len(lst) > m:  # prune back-links to degree bound
                        self.graphs[l][nb] = self._select_neighbors(nb, lst, m)
                ep = nbrs[0] if nbrs else ep
            if li > top:
                for l in range(top + 1, li + 1):
                    self.graphs[l][i] = []
                self.entry, top = i, li
        self._top = top
        return self

    def search(self, q: np.ndarray, k: int, ef: int = 64) -> list[tuple[int, float]]:
        if self.entry < 0:
            return []
        ep = self.entry
        for l in range(len(self.graphs) - 1, 0, -1):
            ep = self._search_layer(q, ep, 1, l)[0]
        cands = self._search_layer(q, ep, max(ef, k), 0)
        d = self._dist(q, cands)
        order = np.argsort(d, kind="stable")[:k]
        return [(cands[int(i)], float(d[int(i)])) for i in order]


def hnsw_partition_search(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    M: int = 8,
    ef_construction: int = 64,
    ef_search: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Sharded HNSW (O10 ladder rung 6 — the Qdrant-shaped scale path,
    reference SURVEY §4 O10): every partition builds an in-memory HNSW over
    its own vectors, answers ALL queries locally (graph traversal touches
    ~ef·log n of the partition, not all of it), and a window merge keeps the
    global top-k per query.

    Scale shape: build cost is per-partition and embarrassingly parallel;
    the only shuffle is the per-query candidate union (num_queries × k ×
    partitions rows — tiny). Index memory is bounded by partition size.
    Queries are collected (they're the small side by contract) and
    broadcast. L2-normalized → euclidean ranking equals cosine ranking."""
    import pandas as pd

    from .guards import MAX_BATCH_QUERIES, collect_bounded

    qrows = collect_bounded(
        queries.select(query_id_col, query_vec_col), MAX_BATCH_QUERIES, "HNSW query batch"
    )
    qids = [r[query_id_col] for r in qrows]
    Q = np.array([list(map(float, r[query_vec_col])) for r in qrows], dtype=np.float64)
    nrm = np.linalg.norm(Q, axis=1, keepdims=True)
    Q = np.divide(Q, nrm, out=np.zeros_like(Q), where=nrm > 0)
    sess = vectors.sparkSession
    bc = sess.sparkContext.broadcast((qids, Q))

    def run(batches):
        ids_all: list = []
        mats: list = []
        for pdf in batches:
            ids_all.extend(pdf[id_col].tolist())
            mats.append(np.stack(pdf[vec_col].map(lambda v: np.asarray(v, dtype=np.float64))))
        if not ids_all:
            return
        X = np.concatenate(mats)
        nr = np.linalg.norm(X, axis=1, keepdims=True)
        X = np.divide(X, nr, out=np.zeros_like(X), where=nr > 0)
        index = HNSWIndex(M=M, ef_construction=ef_construction).build(X)
        q_ids, Qm = bc.value
        out_q, out_id, out_d = [], [], []
        for qi, qv in zip(q_ids, Qm):
            for local, dist in index.search(qv, k, ef=ef_search):
                out_q.append(qi)
                out_id.append(ids_all[local])
                out_d.append(round(dist, 6))
        yield pd.DataFrame({query_id_col: out_q, id_col: out_id, "dist": out_d})

    local_topk = kernel.map_batches(
        vectors.select(id_col, vec_col), run, f"{query_id_col} long, {id_col} long, dist double"
    )
    from pyspark.sql import Window

    w = Window.partitionBy(query_id_col).orderBy(F.col("dist").asc(), F.col(id_col).asc())
    return (
        local_topk.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


_HNSW_ROW_SCHEMA = (
    "shard long, kind string, idx long, vec_id long, "
    "embedding array<double>, layer long, neighbors array<long>, entry long"
)


def _hnsw_shard_rows(shard, index, ids, raw):
    """Serialize one shard's HNSWIndex as columnar rows: kind='vec' (local
    insert idx → vec_id + RAW embedding), kind='edge' (layer, node,
    neighbors), kind='meta' (entry local idx, n in ``idx``)."""
    import pandas as pd

    recs = []
    for j, (vid, emb) in enumerate(zip(ids, raw)):
        recs.append((shard, "vec", j, int(vid), [float(x) for x in emb],
                     None, None, None))
    for layer, g in enumerate(index.graphs):
        for node, nbrs in g.items():
            recs.append((shard, "edge", int(node), None, None, layer,
                         [int(x) for x in nbrs], None))
    recs.append((shard, "meta", len(ids), None, None, None, None,
                 int(index.entry)))
    return pd.DataFrame(
        recs, columns=["shard", "kind", "idx", "vec_id", "embedding",
                       "layer", "neighbors", "entry"],
    )


def _hnsw_load_shard(pdf, M, ef_construction):
    """(index, ids, raw) from one shard's serialized rows. Levels are
    derived (a node holds graph keys at every layer ≤ its level — an
    insertion invariant), ``_top`` from the entry's level."""
    vec = pdf[pdf["kind"] == "vec"].sort_values("idx")
    ids = vec["vec_id"].astype("int64").to_numpy()
    raw = np.stack(vec["embedding"].map(lambda v: np.asarray(v, dtype=np.float64)))
    nrm = np.linalg.norm(raw, axis=1, keepdims=True)
    X = np.divide(raw, nrm, out=np.zeros_like(raw), where=nrm > 0)
    index = HNSWIndex(M=M, ef_construction=ef_construction)
    edges = pdf[pdf["kind"] == "edge"]
    n_layers = int(edges["layer"].max()) + 1 if len(edges) else 0
    index.graphs = [dict() for _ in range(n_layers)]
    for node, layer, nbrs in zip(edges["idx"], edges["layer"], edges["neighbors"]):
        index.graphs[int(layer)][int(node)] = [int(x) for x in nbrs]
    index.X = np.ascontiguousarray(X)
    levels = [0] * len(ids)
    for layer, g in enumerate(index.graphs):
        for node in g:
            levels[node] = max(levels[node], layer)
    index.levels = levels
    meta = pdf[pdf["kind"] == "meta"].iloc[0]
    index.entry = int(meta["entry"])
    index._top = levels[index.entry] if len(ids) else -1
    return index, ids, raw


def hnsw_write(
    vectors: DataFrame,
    path: str,
    n_shards: int = 16,
    M: int = 8,
    ef_construction: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rebalance_threshold: float = 0.2,
) -> None:
    """Persist a sharded HNSW index (VERDICT r10 task 6 — the lifecycle
    ``ivf_write`` already has): vectors are routed to ``n_shards`` shards
    by ``id % n_shards`` (stable, so appends land in the same shard), each
    shard's graph is built independently (groupBy → applyInPandas, one
    group per shard — embarrassingly parallel), and the graph+vectors
    serialize as COLUMNAR rows partitioned by shard (so per-shard reads
    and appends are parquet partition pruning, and no row ever holds a
    whole shard). A ``_hnsw_meta.json`` sidecar pins (M, ef_construction,
    n_shards) — search and append must replay the same build parameters.

    Insertion order within a shard at INITIAL write is vec_id ascending —
    deterministic across writers and replays. After ``hnsw_append`` the
    persisted order is resident order followed by appended ids (levels
    hash the insertion index), so an appended shard need not equal a
    from-scratch build over the same vectors; the contract that holds is
    ``build(A+B) == build(A).extend(B)`` (ADVICE r11)."""
    import json as _json
    import os as _os

    spark = vectors.sparkSession

    def build_shard(key, pdf):
        pdf = pdf.sort_values("vec_id")
        raw = np.stack(pdf["embedding"].map(lambda v: np.asarray(v, dtype=np.float64)))
        nrm = np.linalg.norm(raw, axis=1, keepdims=True)
        X = np.divide(raw, nrm, out=np.zeros_like(raw), where=nrm > 0)
        index = HNSWIndex(M=M, ef_construction=ef_construction).build(X)
        return _hnsw_shard_rows(int(key[0]), index, pdf["vec_id"].tolist(), raw)

    rows = kernel.apply_groups(
        vectors.select(
            F.col(id_col).cast("long").alias("vec_id"),
            F.col(vec_col).cast("array<double>").alias("embedding"),
        )
        .withColumn("shard", F.pmod(F.col("vec_id"), F.lit(n_shards)).cast("long"))
        .groupBy("shard"),
        build_shard,
        _HNSW_ROW_SCHEMA,
    )
    rows.write.partitionBy("shard").mode("overwrite").parquet(path)
    with open(_os.path.join(path, "_hnsw_meta.json"), "w") as f:
        _json.dump({"n_shards": n_shards, "M": M,
                    "ef_construction": ef_construction,
                    # appends route to this single DESIGNATED shard (id =
                    # n_shards, outside the base id%n_shards range) so a
                    # small append rewrites ONE shard, not all of them
                    # (VERDICT r11 task 4); when the delta grows past
                    # rebalance_threshold of the corpus, hnsw_append drains
                    # it with a full re-shard — ivf_append's drift contract
                    "delta_shard": n_shards,
                    "rebalance_threshold": rebalance_threshold}, f)


def hnsw_read_search(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    ef_search: int = 64,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Serve KNN from a PERSISTED sharded HNSW — no graph rebuild: each
    shard's rows deserialize executor-side (groupBy shard →
    applyInPandas), answer every query by graph traversal, and a window
    merge keeps the global top-k. Same result contract as
    ``hnsw_partition_search`` (query_id, vec_id, dist); L2-normalized, so
    euclidean ranking equals cosine ranking."""
    import json as _json
    import os as _os

    import pandas as pd

    from .guards import MAX_BATCH_QUERIES, collect_bounded

    with open(_os.path.join(path, "_hnsw_meta.json")) as f:
        meta = _json.load(f)
    qrows = collect_bounded(
        queries.select(query_id_col, query_vec_col), MAX_BATCH_QUERIES,
        "persisted-HNSW query batch",
    )
    out_schema = f"{query_id_col} long, vec_id long, dist double"
    if not qrows:  # np.linalg.norm(shape (0,), axis=1) raises (ADVICE r11)
        return spark.createDataFrame([], out_schema)
    qids = [r[query_id_col] for r in qrows]
    Q = np.array([list(map(float, r[query_vec_col])) for r in qrows],
                 dtype=np.float64)
    nrm = np.linalg.norm(Q, axis=1, keepdims=True)
    Q = np.divide(Q, nrm, out=np.zeros_like(Q), where=nrm > 0)
    bc = spark.sparkContext.broadcast((qids, Q))
    M, efc = meta["M"], meta["ef_construction"]

    def search_shard(key, pdf):
        index, ids, _raw = _hnsw_load_shard(pdf, M, efc)
        q_ids, Qm = bc.value
        out_q, out_id, out_d = [], [], []
        for qi, qv in zip(q_ids, Qm):
            for local, dist in index.search(qv, k, ef=ef_search):
                out_q.append(qi)
                out_id.append(int(ids[local]))
                out_d.append(round(dist, 6))
        return pd.DataFrame(
            {query_id_col: out_q, "vec_id": out_id, "dist": out_d}
        )

    local_topk = kernel.apply_groups(
        spark.read.parquet(path).groupBy("shard"), search_shard, out_schema
    )
    from pyspark.sql import Window

    w = Window.partitionBy(query_id_col).orderBy(
        F.col("dist").asc(), F.col("vec_id").asc()
    )
    return (
        local_topk.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def hnsw_append(
    spark,
    path: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Incremental maintenance of a persisted sharded HNSW: the whole new
    batch routes to the single DESIGNATED DELTA SHARD (meta's
    ``delta_shard`` — VERDICT r11 task 4: the old ``id % n_shards``
    routing sprayed a 200-vector append across all 16 shards, so every
    small append rewrote the whole index), which is deserialized,
    ``HNSWIndex.extend``-ed (real graph insertion —
    ``build(A+B) == build(A).extend(B)`` exactly), and rewritten via
    dynamic partition overwrite. Base shards' files are never read or
    written by an append.

    When the delta shard's vector count exceeds ``rebalance_threshold``
    of the corpus, the append DRAINS it: a full re-shard (same
    ``id % n_shards`` rule and vec_id-ascending insertion as
    ``hnsw_write``, so the result is bit-identical to a from-scratch
    build) — ``ivf_append``'s drift-ratio contract. Amortized cost:
    appends are O(delta shard) until one O(corpus) rebalance.

    Honest trade vs ``ivf_append`` (pure file append): HNSW insertion
    mutates EXISTING nodes' back-links, so the touched shard must be
    rewritten, not appended — cost ∝ touched-shard bytes. Returns
    {"touched_shards", "n_appended", "rebalanced", "delta_fraction"}.
    New vec_ids must not collide with resident ones (same contract as
    the MERGE sink's key uniqueness)."""
    import json as _json
    import os as _os

    with open(_os.path.join(path, "_hnsw_meta.json")) as f:
        meta = _json.load(f)
    n_shards, M, efc = meta["n_shards"], meta["M"], meta["ef_construction"]
    delta = meta.get("delta_shard", n_shards)
    threshold = meta.get("rebalance_threshold", 0.2)

    new = new_vectors.select(
        F.col(id_col).cast("long").alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("embedding"),
    ).withColumn("shard", F.lit(delta).cast("long"))

    touched = [delta]
    n_appended = new.count()
    resident = spark.read.parquet(path).filter(F.col("shard").isin(touched))
    incoming = new.select(
        "shard", F.lit("new").alias("kind"),
        F.lit(None).cast("long").alias("idx"), "vec_id", "embedding",
        F.lit(None).cast("long").alias("layer"),
        F.lit(None).cast("array<long>").alias("neighbors"),
        F.lit(None).cast("long").alias("entry"),
    )

    def extend_shard(key, pdf):
        newbie = pdf[pdf["kind"] == "new"].sort_values("vec_id")
        add_raw = np.stack(
            newbie["embedding"].map(lambda v: np.asarray(v, dtype=np.float64))
        )
        nrm = np.linalg.norm(add_raw, axis=1, keepdims=True)
        add_X = np.divide(add_raw, nrm, out=np.zeros_like(add_raw), where=nrm > 0)
        resident_rows = pdf[pdf["kind"] != "new"]
        if len(resident_rows):
            index, ids, raw = _hnsw_load_shard(resident_rows, M, efc)
            index.extend(add_X)
            all_ids = list(ids) + newbie["vec_id"].tolist()
            all_raw = np.concatenate([raw, add_raw])
        else:  # first vectors ever routed to this shard
            index = HNSWIndex(M=M, ef_construction=efc).build(add_X)
            all_ids = newbie["vec_id"].tolist()
            all_raw = add_raw
        return _hnsw_shard_rows(int(key[0]), index, all_ids, all_raw)

    # materialize BEFORE the overwrite: the updated rows' lineage reads the
    # very partitions the write replaces (Spark rejects self-overwrites, and
    # even where it didn't, lazy re-scan mid-delete would corrupt)
    updated = kernel.apply_groups(
        resident.unionByName(incoming).groupBy("shard"), extend_shard, _HNSW_ROW_SCHEMA
    ).localCheckpoint(eager=True)
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        updated.write.partitionBy("shard").mode("overwrite").parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    # drift check: one metadata-light scan of the vec rows' shard column
    all_vecs = spark.read.parquet(path).filter(F.col("kind") == "vec")
    from .guards import collect_bounded

    (cnt,) = collect_bounded(
        all_vecs.agg(
            F.count("*").alias("total"),
            F.sum(
                F.when(F.col("shard") == delta, 1).otherwise(0)
            ).alias("in_delta"),
        ),
        1,
        "hnsw_append drift probe",
    )
    frac = (cnt["in_delta"] or 0) / max(cnt["total"], 1)
    rebalanced = False
    if frac > threshold:
        # drain the delta: full re-shard, bit-identical to hnsw_write of
        # the whole corpus (id%n_shards routing, vec_id-ascending inserts)
        vecs = (
            all_vecs.select("vec_id", "embedding")
            .localCheckpoint(eager=True)  # materialize BEFORE self-overwrite
        )
        hnsw_write(
            vecs, path, n_shards=n_shards, M=M, ef_construction=efc,
            rebalance_threshold=threshold,
        )
        touched = list(range(n_shards)) + [delta]
        rebalanced = True
    return {"touched_shards": sorted(int(s) for s in touched),
            "n_appended": int(n_appended),
            "rebalanced": rebalanced,
            "delta_fraction": round(frac, 4)}


def filtered_ann_search(
    vectors: DataFrame,
    query_vec: list[float],
    predicate,
    k: int = 10,
    selectivity_cutoff: float = 0.05,
    overfetch: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ef_search: int = 64,
    force: str | None = None,
) -> DataFrame:
    """Filtered vector search with the pre-/post-filter strategy switch
    (the decision Qdrant makes inside its filtered-HNSW planner; reference
    SURVEY §2.B B6 conjunctive payload filters).

    - **Pre-filter** (selective predicate): evaluate the predicate FIRST —
      it pushes into the parquet scan — and brute-force-score only the
      survivors. Exact; cost ∝ matching rows. The right plan when the
      filter keeps ≪ the corpus (an ANN graph walk would spend its budget
      stepping over non-matching nodes and recall collapses).
    - **Post-filter** (broad predicate): sharded-HNSW overfetch of
      ``k × overfetch`` candidates, then apply the predicate and keep k.
      Approximate; cost ∝ ef·log n per partition, independent of filter.

    The switch measures true selectivity with a pushdown-backed count —
    one cheap metadata-heavy scan; at 100 TB this reads statistics and the
    predicate columns only, not the vectors. ``force='pre'|'post'`` pins a
    branch (for testing and for callers that know their selectivity).
    Returns (vec_id, score, strategy)."""
    from frappe_data_pipelines_spark.operators.search import knn_topk

    total = vectors.count()
    matching = vectors.filter(predicate).count()
    sel = matching / max(total, 1)
    use_pre = force == "pre" or (force is None and sel <= selectivity_cutoff)
    if use_pre:
        hits = knn_topk(vectors.filter(predicate), query_vec, k=k,
                        id_col=id_col, vec_col=vec_col)
        return hits.select(id_col, "score", F.lit("pre-filter").alias("strategy"))
    qdf = vectors.sparkSession.createDataFrame(
        [(0, [float(x) for x in query_vec])], f"query_id long, query_vec array<double>"
    )
    shortlist = hnsw_partition_search(
        vectors, qdf, k=k * overfetch, ef_search=ef_search, id_col=id_col, vec_col=vec_col
    ).select(id_col)
    survivors = vectors.join(F.broadcast(shortlist), id_col, "left_semi").filter(predicate)
    return (
        _score(survivors, query_vec, vec_col)
        .orderBy(F.desc("score"), F.col(id_col).asc())
        .limit(k)
        .select(id_col, "score", F.lit("post-filter").alias("strategy"))
    )


# ---------------------------------------------------------------------------
# Scalar quantization (SQ8) — O10 ladder rung between brute force and PQ
# ---------------------------------------------------------------------------

def sq_train(
    vectors: DataFrame, vec_col: str = "embedding"
) -> tuple[np.ndarray, np.ndarray]:
    """Per-dimension (min, max) of the L2-normalized vectors — the SQ8
    training state (faiss ScalarQuantizer QT_8bit semantics: uniform
    per-dim grid). ONE map pass: each Arrow batch reduces to a single
    (min-vector, max-vector) row in numpy, the driver combines the
    per-batch rows — collect volume is bounded by partition count ×
    dimensionality, never by data. (A 2·dim column-aggregate formulation
    looks tidier but Catalyst's projection collapse re-inlines the
    normalization fold into every one of the 128 aggregate children —
    measured 25x slower.)
    """
    import pandas as pd

    def reduce_batch(batches):
        for pdf in batches:
            m = np.stack(pdf[vec_col].map(np.asarray)).astype(np.float64)
            norms = np.linalg.norm(m, axis=1, keepdims=True)
            norms[norms == 0] = 1.0
            m = m / norms
            yield pd.DataFrame(
                {"lo": [m.min(axis=0).tolist()], "hi": [m.max(axis=0).tolist()]}
            )

    parts = kernel.map_batches(
        vectors.select(vec_col), reduce_batch, "lo array<double>, hi array<double>"
    ).collect()
    lo = np.minimum.reduce([np.asarray(r["lo"]) for r in parts])
    hi = np.maximum.reduce([np.asarray(r["hi"]) for r in parts])
    return lo, hi


def sq_grid(vectors: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """The SQ8 training state as an EXACT relation: (d, lo, hi) per
    dimension of the L2-normalized vectors, computed entirely JVM-side —
    ``l2_normalize`` is a sequential fold (matching DuckDB list semantics,
    functions/vectors.py), posexplode turns dims into rows, and min/max
    are order-independent comparisons. Every double is therefore
    bit-reproducible by the SQL oracle, which is what lets the whole SQ
    tier be hash-checked (``sq_train`` is the numpy fast path for
    production training; its pairwise-summed norms can differ from a SQL
    replay in the last ulp).

    Scale shape: one narrow projection (normalize once, below the
    explode so projection collapse cannot re-inline the fold per
    aggregate child — the trap sq_train's docstring records), one
    explode, one groupBy(d) with map-side partial min/max — output is
    ``dim`` rows at any corpus size."""
    from frappe_data_pipelines_spark.functions.vectors import l2_normalize

    normed = vectors.select(l2_normalize(F.col(vec_col)).alias("v"))
    return (
        normed.select(F.posexplode("v").alias("d0", "x"))
        .groupBy((F.col("d0") + 1).alias("d"))
        .agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
    )


def sq_encode(
    vectors: DataFrame,
    lo: np.ndarray,
    hi: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes ARRAY<INT>): each dim uniformly quantized to 0..255 over
    its [lo, hi] range — 4 bytes/dim shrinks to 1 (vs PQ's sub-byte rates,
    but with no codebook training and much lower distortion). Pure Column
    expressions over the normalized array; map-only at any scale."""
    from frappe_data_pipelines_spark.functions.vectors import l2_normalize

    los = F.array(*[F.lit(float(x)) for x in lo])
    spans = F.array(*[F.lit(float(s) if s > 0 else 1.0) for s in (hi - lo)])
    v = l2_normalize(F.col(vec_col))
    codes = F.transform(
        v,
        lambda x, i: F.least(
            F.lit(255),
            F.greatest(
                F.lit(0),
                F.round(
                    (x - F.element_at(los, i + 1)) / F.element_at(spans, i + 1) * 255
                ).cast("int"),
            ),
        ),
    )
    return vectors.select(F.col(id_col).alias("id"), codes.alias("codes"))


def sq_search(
    codes_df: DataFrame,
    lo: np.ndarray,
    hi: np.ndarray,
    query_vec: list[float],
    k: int = 10,
    exact: bool = False,
) -> DataFrame:
    """Asymmetric SQ search: decode each candidate to its grid point and
    dot-product against the (normalized) query.

    Two kernels, same semantics:
    * default (numpy): one matrix op per Arrow batch, then a global top-k
      heap (TakeOrderedAndProject, no full sort) — the throughput path.
    * ``exact=True`` (Column expressions): per-dim contributions
      ``round((lo_d + c_d/255·span_d)·q_d, 9)`` accumulated in DECIMAL so
      the sum is associative — bit-reproducible by the DuckDB oracle
      under any partitioning (the engine's float-determinism convention),
      and still fully JVM-side whole-stage codegen. The query is
      normalized by a sequential Python fold, which is bit-identical to
      the JVM/DuckDB sequential list folds (all binary64)."""
    import pandas as pd

    span = np.where((hi - lo) > 0, hi - lo, 1.0)
    if exact:
        acc = 0.0
        for x in query_vec:  # sequential fold == JVM/DuckDB list fold
            acc += float(x) * float(x)
        qn = acc ** 0.5
        qs = [float(x) / qn if qn > 0 else 0.0 for x in query_vec]
        los = F.array(*[F.lit(float(x)) for x in lo])
        spans = F.array(*[F.lit(float(s)) for s in span])
        qlit = F.array(*[F.lit(float(x)) for x in qs])
        d9 = "decimal(20,9)"
        contribs = F.transform(
            F.col("codes"),
            lambda c, i: F.round(
                (
                    F.element_at(los, i + 1)
                    + c.cast("double") / F.lit(255.0) * F.element_at(spans, i + 1)
                )
                * F.element_at(qlit, i + 1),
                9,
            ).cast(d9),
        )
        score_col = F.round(
            F.aggregate(
                contribs,
                F.lit(0).cast(d9),
                lambda a, x: (a + x).cast(d9),
            ).cast("double"),
            6,
        )
        scored = codes_df.select(F.col("id"), score_col.alias("score"))
        return scored.orderBy(F.col("score").desc(), F.col("id").asc()).limit(k)

    q = np.asarray(query_vec, dtype=np.float64)
    qn = np.linalg.norm(q)
    if qn > 0:
        q = q / qn
    sess = codes_df.sparkSession
    bc = sess.sparkContext.broadcast((lo, span, q))

    def score(batches):
        blo, bspan, bq = bc.value
        for pdf in batches:
            codes = np.stack(pdf["codes"].map(np.asarray))
            approx = blo[None, :] + codes / 255.0 * bspan[None, :]
            dots = approx @ bq
            yield pd.DataFrame({"id": pdf["id"], "score": np.round(dots, 6)})

    scored = kernel.map_batches(codes_df, score, "id long, score double")
    return scored.orderBy(F.col("score").desc(), F.col("id").asc()).limit(k)


def sq_write(
    vectors: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist the SQ8 index (the lifecycle IVF/PQ/HNSW already have —
    VERDICT r11 'persisted indexes for ANN' lesson): the int8 codes as
    parquet under ``path``/codes plus a ``_sq_meta.json`` sidecar holding
    the per-dim (lo, hi) grid. The grid comes from ``sq_grid`` — the
    EXACT JVM relation whose doubles a DuckDB replay reproduces
    bit-for-bit — and JSON float round-tripping is exact (repr), so a
    serving process's scores hash-match a from-scratch run; that is what
    lets the cached query share the uncached one's oracle. Codes files
    are size-targeted (~32 MB) so serving scans parallelize without
    near-empty task launches."""
    import json as _json
    import os as _os

    from .guards import collect_bounded

    grid = collect_bounded(
        sq_grid(vectors, vec_col=vec_col).orderBy("d"), 4096, "SQ8 grid"
    )
    lo = np.array([r["lo"] for r in grid])
    hi = np.array([r["hi"] for r in grid])
    codes = sq_encode(vectors, lo, hi, id_col=id_col, vec_col=vec_col)
    n = vectors.count()
    dim = len(grid)
    n_files = int(n * (8 + dim) // (32 << 20)) + 1
    _os.makedirs(path, exist_ok=True)
    codes.repartition(n_files).write.mode("overwrite").parquet(
        _os.path.join(path, "codes")
    )
    with open(_os.path.join(path, "_sq_meta.json"), "w") as f:
        _json.dump({"dim": dim, "lo": [float(x) for x in lo],
                    "hi": [float(x) for x in hi], "n_vectors": int(n)}, f)


def sq_read_search(
    spark,
    path: str,
    query_vec: list,
    k: int = 10,
    exact: bool = False,
) -> DataFrame:
    """Serve SQ8 KNN from a PERSISTED index: no grid recomputation, no
    re-encode — load the sidecar, scan the codes (explicit schema: no
    footer-inference job), score with the same kernels as ``sq_search``.
    The serving cost is ONE map-only scan of 1-byte-per-dim codes + a
    top-k heap — the production shape (at 100 TB the codes table is 4x
    smaller than the float32 vectors and 8x smaller than these testdata
    doubles)."""
    import json as _json
    import os as _os

    with open(_os.path.join(path, "_sq_meta.json")) as f:
        meta = _json.load(f)
    lo = np.array(meta["lo"], dtype=np.float64)
    hi = np.array(meta["hi"], dtype=np.float64)
    codes = spark.read.schema("id long, codes array<int>").parquet(
        _os.path.join(path, "codes")
    )
    return sq_search(codes, lo, hi, query_vec, k=k, exact=exact)


# ---------------------------------------------------------------------------
# Binary quantization (BQ) — 1 bit/dim, Hamming pre-rank + exact re-rank
# ---------------------------------------------------------------------------

def bq_encode(
    vectors: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, words ARRAY<BIGINT>): sign-bit binary quantization — bit j of
    word w is 1 iff ``v[64w + j] > 0``. 32x smaller than float32 and the
    distance kernel collapses to XOR + popcount, which is why every modern
    vector store ships a BQ tier (cosine sign agreement is a monotone
    proxy for angle on roughly-isotropic embeddings). Deterministic — no
    training state — so unlike PQ/SQ the whole search is DuckDB-oracleable.
    Pure Column expressions; map-only at any scale."""
    if dim < 1:
        raise ValueError("dim must be >= 1")
    n_words = (dim + 63) // 64
    # per-word slice lengths computed driver-side so the LAST word reads
    # exactly dim % 64 dims — a stored vector longer than `dim` must not
    # leak its tail into the codes (it would inflate every Hamming
    # distance against a dim-length query); shorter vectors just
    # contribute 0-bits for their missing dims
    words = F.array(
        *[
            F.expr(
                f"aggregate(transform(slice({vec_col}, {w * 64 + 1}, "
                f"{min(64, dim - w * 64)}), "
                f"(x, j) -> IF(x > 0D, shiftleft(1L, j), 0L)), "
                f"0L, (a, b) -> a | b)"
            )
            for w in range(n_words)
        ]
    )
    return vectors.select(F.col(id_col).alias("id"), words.alias("words"))


def bq_query_words(query_vec: list[float]) -> list[int]:
    """The query's sign words as SIGNED 64-bit ints (bit 63 two's-complement
    wrapped, matching shiftleft(1L, 63) on the JVM)."""
    n_words = (len(query_vec) + 63) // 64
    out = []
    for w in range(n_words):
        raw = 0
        for j, x in enumerate(query_vec[w * 64 : (w + 1) * 64]):
            if x > 0:
                raw |= 1 << j
        out.append(raw - (1 << 64) if raw >= (1 << 63) else raw)
    return out


def bq_search(
    vectors: DataFrame,
    query_vec: list[float],
    k: int = 10,
    overfetch: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """BQ two-stage search: Hamming pre-rank over the packed sign words
    (XOR + bit_count per word — the SIMD shape), shortlist of
    ``k * overfetch`` by (hamming ASC, id ASC), then EXACT cosine re-rank
    of the shortlist only. Returns (id, score) — k rows, deterministic
    total order (score DESC, id ASC), scores round(·, 6) like every
    serving query in this engine.

    Scale shape: the corpus pays one scan over 1-bit codes (bounded
    map-side top-k via TakeOrderedAndProject — no global sort), and exact
    float math touches only the shortlist via a broadcast semi-join."""
    dim = len(query_vec)
    qwords = bq_query_words(query_vec)
    codes = bq_encode(vectors, dim, id_col, vec_col)
    qarr = F.array(*[F.lit(int(w)).cast("long") for w in qwords])
    hamming = F.aggregate(
        F.zip_with(F.col("words"), qarr, lambda a, b: F.bit_count(a.bitwiseXOR(b))),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    shortlist = (
        codes.select("id", hamming.alias("hamming"))
        .orderBy(F.col("hamming").asc(), F.col("id").asc())
        .limit(int(k) * int(overfetch))
        .select("id")
    )
    semi = vectors.join(
        F.broadcast(shortlist.withColumnRenamed("id", id_col)), id_col, "left_semi"
    )
    return (
        _score(semi, query_vec, vec_col)
        .select(id_col, "score")
        .orderBy(F.desc("score"), F.col(id_col).asc())
        .limit(int(k))
    )


def pq_exact_dims(
    vectors: DataFrame,
    m_subvectors: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, m, j, x): the L2-normalized vectors exploded to one row per
    dimension, tagged with subspace ``m`` and within-subspace position
    ``j``, each coordinate rounded to 9 dp. This dims-as-rows relation is
    the shared substrate of the EXACT product-quantization tier
    (``pq_exact_search``): every downstream quantity — Lloyd assignment
    distances, centroid means, ADC inner products — is a sum of per-term
    round(·,9) DECIMAL(20,9) values over these rows, so it is associative,
    order-independent, and bit-reproducible by a SQL replay under ANY
    partitioning (the convention the SQ8 oracle established)."""
    from frappe_data_pipelines_spark.functions.vectors import l2_normalize

    probe = vectors.select(F.size(vec_col).alias("d")).first()
    if probe is not None and probe["d"] % m_subvectors:
        raise ValueError(
            f"dim {probe['d']} not divisible by m={m_subvectors}"
        )
    d0 = probe["d"] if probe is not None else 0
    dsub = max(d0 // m_subvectors, 1)
    # validate the ARRAY length before the explode: a mismatched row would
    # otherwise score over wrong/missing subspaces silently, and an EMPTY
    # array would vanish entirely (posexplode emits no rows for it)
    checked = vectors.select(
        F.col(id_col).alias("vec_id"),
        F.expr(
            f"CASE WHEN size({vec_col}) = {d0} THEN {vec_col} "
            f"ELSE raise_error(concat('pq_exact_dims: vector of dim ', "
            f"size({vec_col}), ' in a dim-{d0} corpus')) END"
        ).alias("__raw"),
    ).select("vec_id", l2_normalize(F.col("__raw")).alias("v"))
    return (
        checked.select("vec_id", F.posexplode("v").alias("i0", "x0"))
        .select(
            "vec_id",
            (F.col("i0") / dsub).cast("int").alias("m"),
            (F.col("i0") % dsub).alias("j"),
            F.round("x0", 9).alias("x"),
        )
    )


def pq_exact_search(
    vectors: DataFrame,
    query_id: int = 0,
    m_subvectors: int = 16,
    k_centroids: int = 16,
    n_iter: int = 2,
    sample_rows: int = 256,
    topk: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product quantization with an EXACTLY reproducible training +
    encode + ADC-scoring pipeline — the third oracled quantizer tier
    (after BQ's sign bits and SQ8's min/max grids), and the first with
    *trained* codebooks under the hash gate.

    Determinism recipe (everything a SQL twin can replay bit-for-bit):

    * training sample = first ``sample_rows`` ids by md5(id) — the IVF
      oracle's hash-ordered sample;
    * init codebook m = the first ``k_centroids`` sample rows' subvectors;
    * Lloyd assignment distance = Σ_j round((x−c)², 9) as DECIMAL(20,9) —
      exact sums, ties broken on smaller centroid id;
    * centroid update = CAST(Σ_j-group DECIMAL(20,9) sum AS DOUBLE)/count —
      exact numerator, one IEEE division; empty clusters keep their
      previous centroid;
    * ADC score = Σ_m Σ_j round(c_j·q_j, 9) DECIMAL — associative, so the
      groupBy order never matters; final score rounds to 6 dp.

    Scale shape: training runs on the bounded sample (16k dim-rows at the
    defaults); the full-corpus encode is one broadcast join against the
    m·k·dsub-row codebook relation with map-side partial aggregation. The
    numpy ``pq_train``/``pq_search`` pair remains the production
    throughput path (LUT batch kernels); this tier is the correctness
    anchor that proves the trained-codebook math end-to-end, exactly as
    ``sq_search(exact=True)`` anchors SQ8. Reference parity:
    frappe_data_pipelines/services/vector_service.py quantization config
    (the reference delegates PQ to Qdrant; here the training itself is
    part of the checked surface)."""
    from pyspark.sql import Window

    dims = pq_exact_dims(vectors, m_subvectors, id_col, vec_col)
    dec = "decimal(20,9)"

    samp_ids = (
        vectors.select(F.col(id_col).alias("vec_id"))
        .orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(sample_rows)
    )
    sampdims = dims.join(F.broadcast(samp_ids), "vec_id").persist()

    from frappe_data_pipelines_spark.operators.guards import collect_bounded

    init_rows = collect_bounded(
        samp_ids.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(k_centroids),
        4096,
        "PQ init centroid ids",
    )
    init_map = {r["vec_id"]: cid for cid, r in enumerate(init_rows)}
    cid_expr = F.lit(None).cast("int")
    for vid, cid in init_map.items():
        cid_expr = F.when(F.col("vec_id") == vid, F.lit(cid)).otherwise(cid_expr)
    cent = (
        sampdims.filter(F.col("vec_id").isin(list(init_map)))
        .select(cid_expr.alias("cid"), "m", "j", F.col("x").alias("cx"))
    ).localCheckpoint(eager=True)

    for _ in range(n_iter):
        d2 = (
            sampdims.join(F.broadcast(cent), ["m", "j"])
            .groupBy("vec_id", "m", "cid")
            .agg(
                F.sum(
                    F.round((F.col("x") - F.col("cx")) * (F.col("x") - F.col("cx")), 9).cast(dec)
                ).alias("d2")
            )
        )
        w = Window.partitionBy("vec_id", "m").orderBy("d2", "cid")
        asg = (
            d2.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", "m", "cid")
        )
        centsum = (
            asg.join(sampdims, ["vec_id", "m"])
            .groupBy("m", "cid", "j")
            .agg(
                (
                    F.sum(F.col("x").cast(dec)).cast("double") / F.count(F.lit(1))
                ).alias("cx")
            )
        )
        # empty clusters keep their previous centroid (IVF convention)
        kept = cent.join(
            centsum.select("m", "cid").distinct(), ["m", "cid"], "left_anti"
        )
        cent = centsum.select("m", "cid", "j", "cx").unionByName(
            kept.select("m", "cid", "j", "cx")
        ).localCheckpoint(eager=True)

    # encode the FULL corpus: nearest codebook entry per (row, subspace)
    edist = (
        dims.join(F.broadcast(cent), ["m", "j"])
        .groupBy("vec_id", "m", "cid")
        .agg(
            F.sum(
                F.round((F.col("x") - F.col("cx")) * (F.col("x") - F.col("cx")), 9).cast(dec)
            ).alias("d2")
        )
    )
    we = Window.partitionBy("vec_id", "m").orderBy("d2", "cid")
    codes = (
        edist.withColumn("rn", F.row_number().over(we))
        .filter(F.col("rn") == 1)
        .select("vec_id", "m", "cid")
    )
    qdims = dims.filter(F.col("vec_id") == query_id).select(
        "m", "j", F.col("x").alias("qx")
    )
    lut = (
        cent.join(F.broadcast(qdims), ["m", "j"])
        .groupBy("m", "cid")
        .agg(F.sum(F.round(F.col("cx") * F.col("qx"), 9).cast(dec)).alias("ip"))
    )
    scored = (
        codes.join(F.broadcast(lut), ["m", "cid"])
        .groupBy("vec_id")
        .agg(F.sum("ip").alias("s"))
    )
    sampdims.unpersist()
    return (
        scored.orderBy(F.col("s").desc(), F.col("vec_id").asc())
        .limit(topk)
        .select(
            F.col("vec_id").alias("id"),
            F.round(F.col("s").cast("double"), 6).alias("score"),
        )
    )
