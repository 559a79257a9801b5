"""Vector math + search operator tests."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from frappe_data_pipelines_spark.functions.vectors import (
    cosine_similarity,
    dot_product,
    l2_normalize,
    vector_norm,
)


@pytest.fixture(scope="module")
def vec_df(spark):
    data = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [1.0, 1.0, 0.0]),
        (4, [2.0, 0.0, 0.0]),
        (5, [0.0, 0.0, 0.0]),
    ]
    return spark.createDataFrame(data, "id long, v array<double>")


def test_dot_and_norm(vec_df):
    rows = {r["id"]: r for r in vec_df.select(
        "id",
        dot_product(F.col("v"), F.col("v")).alias("dot"),
        vector_norm(F.col("v")).alias("n"),
    ).collect()}
    assert rows[1]["dot"] == 1.0 and rows[1]["n"] == 1.0
    assert rows[3]["dot"] == 2.0 and abs(rows[3]["n"] - np.sqrt(2)) < 1e-12
    assert rows[5]["dot"] == 0.0


def test_cosine_known_values(vec_df):
    a = F.array(F.lit(1.0), F.lit(0.0), F.lit(0.0))
    rows = {r["id"]: r["c"] for r in vec_df.select(
        "id", cosine_similarity(F.col("v"), a).alias("c")
    ).collect()}
    assert rows[1] == 1.0
    assert rows[2] == 0.0
    assert abs(rows[3] - 1 / np.sqrt(2)) < 1e-12
    assert rows[4] == 1.0
    assert rows[5] is None  # zero vector → NULL (SQL division semantics)


def test_l2_normalize(vec_df):
    out = vec_df.filter(F.col("id") == 4).select(l2_normalize(F.col("v")).alias("u")).first()
    assert out["u"] == [1.0, 0.0, 0.0]


def test_knn_matches_numpy(spark, sf_dir):
    from frappe_data_pipelines_spark.operators.search import knn_topk
    from frappe_data_pipelines_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    rows = emb.collect()
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    ids = np.array([r["vec_id"] for r in rows])
    q = mat[ids.tolist().index(0)]
    sims = mat @ q / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
    order = sorted(zip(-sims, ids))[:10]
    expected = [int(i) for _, i in order]

    got = [r["vec_id"] for r in knn_topk(emb, list(q), k=10).collect()]
    assert got == expected


def test_embedder_deterministic_and_normalized():
    from frappe_data_pipelines_spark.operators.embed import HashingEmbedder

    e = HashingEmbedder(dim=32)
    v1 = e.embed(["hello world foo"])[0]
    v2 = e.embed(["hello world foo"])[0]
    assert v1 == v2
    assert abs(float(np.linalg.norm(v1)) - 1.0) < 1e-5
    # different text → different vector
    assert e.embed(["completely different text"])[0] != v1


# --- the serving path's folded forms vs the unfolded cosine they replace ---


def _unfolded_dot(a, b):
    return F.aggregate(
        F.zip_with(a.cast("array<double>"), b.cast("array<double>"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _unfolded_norm(a):
    return F.sqrt(_unfolded_dot(a, a))


def _array_of_lits(q):
    """The query binding every search path used before the literal: one
    ``lit`` per component under a cast ``array``."""
    return F.array(*[F.lit(float(x)) for x in q]).cast("array<double>")


def _unfolded_score(a, q):
    """round(cosine, 6) as every search path scored it before the fold:
    |q| recomputed per row and |a| through zip_with(a, a)."""
    return F.round(F.try_divide(_unfolded_dot(a, q), _unfolded_norm(a) * _unfolded_norm(q)), 6)


@pytest.fixture(scope="module")
def edge_df(spark):
    data = [
        (1, [1.0, -2.0, 3.5, 0.25]),          # negative components
        (2, [0.0, 0.0, 0.0, 0.0]),            # zero stored vector
        (3, [1.0, None, 2.0, 3.0]),           # null element
        (4, [1.0, 2.0, 3.0]),                 # length mismatch
        (5, [-0.1, 0.7, -0.3, 0.9]),
        (6, None),                            # null vector
        (7, [1e-3, 2.5, -7.25, 1.0 / 3.0]),
        (8, []),
    ]
    return spark.createDataFrame(data, "vec_id long, v array<double>")


EDGE_QUERIES = [
    [0.3, -1.2, 2.0, 0.1],
    [0.0, 0.0, 0.0, 0.0],                     # zero query
    [-0.5, -0.25, -0.125, -1.0 / 7.0],
    [1.0, 2.0, 3.0],                          # length mismatch vs most rows
    list(np.random.default_rng(7).normal(size=4)),
]


def _by_id(df):
    return {r["vec_id"]: r["score"] for r in df.select("vec_id", "score").collect()}


def test_vector_norm_fold_bit_equal_to_zip_with_form(edge_df):
    rows = edge_df.select(
        "vec_id",
        vector_norm(F.col("v")).alias("new"),
        _unfolded_norm(F.col("v")).alias("old"),
    ).collect()
    assert [r["new"] for r in rows] == [r["old"] for r in rows]
    got = {r["vec_id"]: r["new"] for r in rows}
    assert got[3] is None and got[6] is None and got[2] == 0.0 and got[8] == 0.0


def test_score_literal_query_bit_equal_to_unfolded_cosine(edge_df):
    from frappe_data_pipelines_spark.operators.search import _score

    for q in EDGE_QUERIES:
        new = _by_id(_score(edge_df, q, "v"))
        old = _by_id(edge_df.withColumn("score", _unfolded_score(F.col("v"), _array_of_lits(q))))
        assert new == old, q
    zero = _by_id(_score(edge_df, EDGE_QUERIES[1], "v"))
    assert all(s is None for s in zero.values())  # zero query → NULL, not 0/0
    first = _by_id(_score(edge_df, EDGE_QUERIES[0], "v"))
    assert first[2] is None and first[3] is None and first[4] is None
    assert first[1] is not None and first[1] != 0.0


def test_find_similar_bit_equal_to_unfolded_cosine(edge_df):
    from frappe_data_pipelines_spark.operators.search import find_similar

    for target in (1, 2, 3, 4, 5, 7):
        new = _by_id(find_similar(edge_df, target, k=100, vec_col="v"))
        tgt = edge_df.filter(F.col("vec_id") == target).select(
            F.col("v").cast("array<double>").alias("__q")
        )
        old = _by_id(
            edge_df.crossJoin(F.broadcast(tgt))
            .withColumn("score", _unfolded_score(F.col("v"), F.col("__q")))
            .filter(F.col("vec_id") != target)
        )
        assert new == old, target
        assert target not in new


def test_score_bit_equal_on_every_embedding_row(spark, sf_dir):
    from frappe_data_pipelines_spark.operators.embed import HashingEmbedder
    from frappe_data_pipelines_spark.operators.search import _score
    from frappe_data_pipelines_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    stored = [float(x) for x in emb.orderBy("vec_id").first()["embedding"]]
    for q in (stored, HashingEmbedder().embed(["fast join table scan"])[0]):
        old = _by_id(emb.withColumn("score", _unfolded_score(F.col("embedding"), _array_of_lits(q))))
        assert _by_id(_score(emb, q, "embedding")) == old


def test_ivf_probe_bit_equal_to_unfolded_cosine(edge_df):
    from frappe_data_pipelines_spark.operators.ann import ivf_search

    assigned = edge_df.withColumn("cluster", F.lit(0))
    for q in EDGE_QUERIES:
        new = ivf_search(assigned, [[0.0] * len(q)], q, k=100, n_probe=1, vec_col="v")
        old = _by_id(assigned.withColumn("score", _unfolded_score(F.col("v"), _array_of_lits(q))))
        assert _by_id(new) == old, q


def test_ann_rescore_sites_bit_equal_to_unfolded_cosine(spark, sf_dir):
    """The IVF probe, the PQ and BQ shortlist re-ranks and the filtered
    post-filter branch score like the unfolded cosine, row for row."""
    from frappe_data_pipelines_spark.operators import ann
    from frappe_data_pipelines_spark.operators.embed import HashingEmbedder
    from frappe_data_pipelines_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    assigned, centroids = ann.ivf_build(emb, n_clusters=4, n_iter=2)
    books = ann.pq_train(emb, m_subvectors=8, k_centroids=16, n_iter=2)
    codes = spark.createDataFrame(ann.pq_encode(emb, books).collect())
    stored = [float(x) for x in emb.orderBy("vec_id").first()["embedding"]]
    for q in (stored, HashingEmbedder().embed(["fast join table scan"])[0]):
        old = _by_id(emb.withColumn("score", _unfolded_score(F.col("embedding"), _array_of_lits(q))))
        sites = {
            "ivf": ann.ivf_search(assigned, centroids, q, k=30, n_probe=2),
            "pq": ann.pq_search_rerank(codes, emb, books, q, k=30, rerank_depth=60),
            "post": ann.filtered_ann_search(emb, q, F.col("vec_id") % 2 == 0, k=10,
                                            overfetch=4, force="post"),
            "bq": ann.bq_search(emb, q, k=30, overfetch=2),
        }
        for name, hits in sites.items():
            got = _by_id(hits)
            assert got and got == {i: old[i] for i in got}, name
