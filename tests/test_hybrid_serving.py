"""Serving from per-service state -- the BM25 statistics of hybrid search
and the dense index of every dense request -- and the request counters of
every ``SearchService`` request kind.

``SearchService.hybrid_search`` must return exactly the rows of
``rrf_fuse(dense, bm25_scores(corpus, query.split()))`` while running two
bounded collects per request, and every dense request must score exactly
as the raw-vector operators do; these tests pin the equality (sparse and
dense scores bit for bit, fused rows, Spark's HALF_UP rounding), the
staleness rules of both caches, and the jobs / tasks / shuffle bytes /
Janino compiles a warm request costs."""

from __future__ import annotations

import importlib
import os
import shutil
import sys
from pathlib import Path

import numpy as np
import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F
from pyspark.sql import types as T

from frappe_data_pipelines_spark import api
from frappe_data_pipelines_spark.operators.search import (
    BM25Stats,
    _score,
    bm25_scores,
    equality_filter,
    find_similar,
    rerank_with_provider,
    round_half_up,
    rrf_fuse,
    rrf_score,
)
from frappe_data_pipelines_spark.session import local_frame
from frappe_data_pipelines_spark.sources.tables import load_table

PERFBENCH = Path(__file__).resolve().parents[1] / "perfbench"


def _perfbench_module(name: str):
    """perfbench's own modules import each other as top-level names."""
    if str(PERFBENCH) not in sys.path:
        sys.path.append(str(PERFBENCH))
    return importlib.import_module(name)


@pytest.fixture(scope="module")
def tracer(spark):
    return _perfbench_module("spans").Tracer(spark)


def _counters(tracer, name: str, fn) -> dict:
    tracer.span(name, fn)
    return tracer.spans[name][-1]


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics  # noqa: SLF001
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _reference(svc, query: str, top_k: int = 10) -> list[tuple]:
    """hybrid_search as it was: Spark-side rrf_fuse over the whole dense
    scoring and bm25_scores."""
    dense = _score(svc.vectors, svc._embed_query(query), svc.vec_col).select(  # noqa: SLF001
        F.col(svc.id_col).alias("doc_id"), "score"
    )
    sparse = bm25_scores(svc.corpus, query.split(), text_col=svc.text_col)
    return [tuple(r) for r in rrf_fuse(dense, sparse, top_k=top_k).collect()]


# ---------------------------------------------------------------------------
# driver-side RRF arithmetic
# ---------------------------------------------------------------------------


def test_rrf_score_reproduces_spark_round_half_up(spark):
    """Every (rank_a, rank_b) pair of two 50-row pools, and every one-sided
    rank, scores exactly as rrf_fuse's Spark expression does."""
    n = 10 * 5
    ranks = spark.range(1, n + 1).select(F.col("id").cast("int").alias("r"))
    none = spark.range(1).select(F.lit(None).cast("int").alias("r"))
    a, b = ranks.union(none).alias("a"), ranks.union(none).alias("b")
    rows = a.crossJoin(b).select(
        F.col("a.r").alias("ra"), F.col("b.r").alias("rb"),
        F.round(
            F.coalesce(1.0 / (F.lit(60) + F.col("a.r")), F.lit(0.0))
            + F.coalesce(1.0 / (F.lit(60) + F.col("b.r")), F.lit(0.0)),
            6,
        ).alias("rrf"),
    ).filter(F.col("ra").isNotNull() | F.col("rb").isNotNull()).collect()
    assert len(rows) == (n + 1) ** 2 - 1
    bad = [(r["ra"], r["rb"], r["rrf"], rrf_score(r["ra"], r["rb"], 60))
           for r in rows if rrf_score(r["ra"], r["rb"], 60) != r["rrf"]]
    assert not bad, bad[:10]


def test_round_half_up_is_spark_round(spark):
    """HALF_UP on the decimal string, where Python's round() (half-even on
    the binary value) differs."""
    xs = [0.0000005, 0.0000015, 0.0000025, 1.0000005, -0.0000025, 2.675e-7,
          0.1234565, 0.12345650000000001, 123.4567895, 1e-9, 0.0, -0.0, 5e-324]
    df = spark.createDataFrame([(x,) for x in xs], "x double")
    got = [r[0] for r in df.select(F.round("x", 6)).collect()]
    assert [round_half_up(x, 6) for x in xs] == got
    assert round(0.1234565, 6) != round_half_up(0.1234565, 6)  # the case that matters


# ---------------------------------------------------------------------------
# sparse scores: BM25Stats.top == bm25_scores, bit for bit
# ---------------------------------------------------------------------------


def _all_bm25(corpus, terms) -> list[tuple]:
    return [tuple(r) for r in bm25_scores(corpus, terms)
            .orderBy(F.desc("bm25"), F.col("doc_id").asc()).collect()]


@pytest.fixture(scope="module")
def perfbench_corpus(spark):
    """search_serve's corpus: the seed-11 documents chunked as perfbench
    chunks them, keyed on the same vec_id."""
    from frappe_data_pipelines_spark.operators.chunker import chunk_documents

    inputs = _perfbench_module("inputs")
    docs = spark.createDataFrame(
        [(d.doc_id, d.text) for d in inputs.documents(11).docs], "doc_id long, text string"
    )
    chunks = chunk_documents(docs, chunk_size=200, chunk_overlap=40).select(
        (F.col("doc_id") * 1000 + F.col("chunk_index")).alias("doc_id"),
        F.col("chunk_text").alias("text"),
    ).persist()
    queries = [q[1] for q in inputs.make_queries(11, 400, [0], [0]) if q[0] == "hybrid_search"]
    yield chunks, queries
    chunks.unpersist()


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_bm25_stats_equal_bm25_scores_on_testdata(spark, sf_dir, sf):
    docs = load_table(spark, os.path.join(os.path.dirname(sf_dir), sf), "documents")
    vocab = [r["w"] for r in docs.select(F.explode(F.split(F.lower("text"), "[^a-z0-9]+")).alias("w"))
             .filter(F.col("w") != "").groupBy("w").count()
             .orderBy(F.desc("count"), "w").limit(40).collect()]
    queries = [
        ["fast", "join", "table", "scan"],
        vocab[:8],                      # the most frequent terms: most docs sum 8
        vocab[5:20],
        ["The", "DATA", "data", "the", "zzqx", "scan,"],
        vocab[::3],
    ]
    stats = BM25Stats.build(docs)
    try:
        assert stats.unique_ids
        for terms in queries:
            want = _all_bm25(docs, terms)
            assert want, terms
            assert stats.top(terms, len(want) + 5) == want, terms
    finally:
        stats.release()


def test_bm25_stats_equal_bm25_scores_on_perfbench_corpus(perfbench_corpus):
    chunks, queries = perfbench_corpus
    inputs = _perfbench_module("inputs")
    vocab = [*inputs.VOCAB, inputs.DUP_WORD]
    stats = BM25Stats.build(chunks)
    try:
        assert stats.n_docs == chunks.count() and set(stats.idf) == set(vocab)
        for text in queries[:12] + [" ".join(vocab[-12:]), " ".join(vocab)]:
            terms = text.split()
            want = _all_bm25(chunks, terms)
            assert stats.top(terms, len(want)) == want, text
    finally:
        stats.release()


# ---------------------------------------------------------------------------
# fused rows == rrf_fuse(dense, bm25_scores)
# ---------------------------------------------------------------------------

WORDS = ["alpha", "beta", "gamma", "delta", "scan", "join", "table", "fast"]


def _hybrid_tables(spark, root: Path, duplicate_ids: bool):
    rng = np.random.default_rng(5)
    vecs = [(i, [float(x) for x in rng.normal(size=64)]) for i in range(40)]
    spark.createDataFrame(vecs, "vec_id long, embedding array<double>") \
        .write.mode("overwrite").parquet(str(root / "vectors"))
    rows = []
    for i in range(0, 60):  # ids 40..59 have text but no vector
        n = int(rng.integers(2, 12))
        words = [WORDS[j] for j in rng.integers(0, len(WORDS), size=n)]
        rows.append((i, " ".join(w.upper() if j % 3 == 0 else w for j, w in enumerate(words))))
    rows += [(60, None), (61, ""), (62, " ,, "), (None, "alpha beta orphan")]
    if duplicate_ids:
        rows += [(3, "alpha alpha gamma"), (7, rows[7][1]), (None, "gamma join")]
    spark.createDataFrame(rows, "doc_id long, text string").repartition(3) \
        .write.mode("overwrite").parquet(str(root / "corpus"))
    return (spark.read.parquet(str(root / "vectors")),
            spark.read.parquet(str(root / "corpus")))


HYBRID_QUERIES = [
    "alpha beta",
    "Alpha BETA gamma",          # mixed case
    "scan scan SCAN join join",  # repeated terms
    "table nosuchterm",          # a term absent from the corpus
    "nosuchterm another",        # no sparse hit at all
    "alpha, beta",               # punctuation never matches a token
    " ".join(WORDS),             # every term: long per-doc sums
]


@pytest.mark.parametrize("duplicate_ids", [False, True])
def test_hybrid_search_equals_rrf_fuse(spark, tmp_path, duplicate_ids):
    vectors, corpus = _hybrid_tables(spark, tmp_path, duplicate_ids)
    svc = api.SearchService(vectors=vectors, corpus=corpus)
    try:
        for q in HYBRID_QUERIES:
            for top_k in (3, 10):
                out = svc.hybrid_search(q, top_k=top_k)
                assert [tuple(r) for r in out.collect()] == _reference(svc, q, top_k), (q, top_k)
        assert svc._bm25.unique_ids is not duplicate_ids  # noqa: SLF001
        dense = vectors.select(F.col("vec_id").alias("doc_id"), F.lit(0.0).alias("score"))
        assert out.schema == rrf_fuse(dense, bm25_scores(corpus, ["alpha"])).schema
    finally:
        svc.release_caches()


def test_hybrid_statistics_follow_the_corpus_files(spark, tmp_path):
    """A rewritten corpus file (in place, or by shutil.copy2 of an older
    file) rebuilds the statistics; release_caches() drops them."""
    vectors, _ = _hybrid_tables(spark, tmp_path, duplicate_ids=False)
    corpus_dir = tmp_path / "single"
    spare = tmp_path / "spare"
    spark.createDataFrame([(i, f"gamma delta {i}") for i in range(50)], "doc_id long, text string") \
        .coalesce(1).write.parquet(str(spare))
    spark.createDataFrame([(i, "alpha beta " * (i % 4 + 1)) for i in range(50)], "doc_id long, text string") \
        .coalesce(1).write.parquet(str(corpus_dir))
    [part] = [p for p in os.listdir(corpus_dir) if p.endswith(".parquet")]
    [spare_part] = [p for p in os.listdir(spare) if p.endswith(".parquet")]
    svc = api.SearchService(vectors=vectors, corpus=spark.read.parquet(str(corpus_dir)))

    svc.hybrid_search("alpha gamma").collect()
    first = svc._bm25  # noqa: SLF001
    assert set(first.idf) == {"alpha", "beta"}
    svc.hybrid_search("beta").collect()
    assert svc._bm25 is first  # noqa: SLF001  — unchanged files: reused

    # Hadoop's local FS would check the rewritten bytes against its sidecar
    (corpus_dir / f".{part}.crc").unlink()
    shutil.copy2(spare / spare_part, corpus_dir / part)  # older mtime, new bytes
    got = [tuple(r) for r in svc.hybrid_search("alpha gamma").collect()]
    rebuilt = svc._bm25  # noqa: SLF001
    assert rebuilt is not first and "gamma" in rebuilt.idf
    assert not first.docs.is_cached
    assert got == _reference(svc, "alpha gamma")

    spark.createDataFrame([(i, f"delta {i} scan") for i in range(50)], "doc_id long, text string") \
        .coalesce(1).write.mode("overwrite").parquet(str(spare))
    [spare_part] = [p for p in os.listdir(spare) if p.endswith(".parquet")]
    with open(spare / spare_part, "rb") as src, open(corpus_dir / part, "wb") as dst:
        dst.write(src.read())  # rewritten in place
    svc.hybrid_search("scan").collect()
    assert svc._bm25 is not rebuilt and "scan" in svc._bm25.idf  # noqa: SLF001

    cached = svc._bm25.docs  # noqa: SLF001
    svc.release_caches()
    assert svc._bm25 is None and not cached.is_cached  # noqa: SLF001


# ---------------------------------------------------------------------------
# dense index: every score == the raw-vector operators, bit for bit
# ---------------------------------------------------------------------------


def _id_scores(df) -> list[tuple]:
    return [tuple(r) for r in df.select("vec_id", "score").collect()]


def _ranked(df):
    return df.orderBy(F.desc("score"), F.col("vec_id").asc())


@pytest.fixture(scope="module")
def perfbench_vectors(spark, perfbench_corpus, tmp_path_factory):
    """search_serve's vectors: the perfbench corpus's chunks embedded as
    perfbench embeds them (``array<float>``), labelled with their document
    and read back from parquet."""
    from frappe_data_pipelines_spark.operators.embed import embed_documents

    chunks, queries = perfbench_corpus
    path = str(tmp_path_factory.mktemp("dense") / "vectors")
    embed_documents(chunks, text_col="text").select(
        F.col("doc_id").alias("vec_id"), F.expr("doc_id div 1000").alias("label"), "embedding",
    ).write.parquet(path)
    return spark.read.parquet(path), queries[:4]


@pytest.mark.parametrize("table", ["perfbench", "sf0.001"])
def test_dense_index_scores_equal_raw_operators(spark, sf_dir, perfbench_vectors, table):
    """search, a filtered search and find_similar (with and without
    exclude_same) rank every row of the table, scored from the index, and
    equal ``_score``/``find_similar`` over the raw vectors row for row."""
    if table == "perfbench":
        vectors, queries = perfbench_vectors
    else:
        vectors = load_table(spark, sf_dir, "embeddings")
        queries = ["fast join table scan", "the data engine scan rows", "zzqx", "alpha"]
    n = vectors.count()
    rows = vectors.select("vec_id", "label").orderBy("vec_id").collect()
    svc = api.SearchService(vectors=vectors)
    try:
        for q in queries:
            qv = svc._embed_query(q)  # noqa: SLF001
            got = svc.search(q, top_k=n)
            assert got.schema == _score(vectors, qv, "embedding").schema
            assert _id_scores(got) == _id_scores(_ranked(_score(vectors, qv, "embedding"))), q
            label = {"label": rows[len(rows) // 2]["label"]}
            want = _ranked(_score(equality_filter(vectors, label), qv, "embedding"))
            assert _id_scores(svc.search(q, top_k=n, filters=label)) == _id_scores(want), q
        for r in (rows[0], rows[-1]):
            for exclude in (None, {"label": r["label"]}):
                got = svc.find_similar(r["vec_id"], top_k=n, exclude_same=exclude)
                want = find_similar(vectors, r["vec_id"], k=n, exclude_cols_equal=exclude)
                assert got.schema == want.schema
                assert _id_scores(got) == _id_scores(want), (r, exclude)
    finally:
        svc.release_caches()


def test_dense_index_follows_the_vectors(spark, tmp_path):
    """A rewritten vectors part file, a reassigned ``vectors`` and a changed
    ``vec_col`` each rebuild the index (the old one unpersisted);
    release_caches() leaves nothing persisted."""
    rng = np.random.default_rng(3)

    def table(path, ids, parts):
        rows = [(i, i % 3, [float(x) for x in rng.normal(size=16)],
                 [float(x) for x in rng.normal(size=16)]) for i in ids]
        spark.createDataFrame(rows, "vec_id long, label long, embedding array<float>, alt array<float>") \
            .repartition(parts).write.parquet(str(path))
        return sorted(p for p in os.listdir(path) if p.endswith(".parquet"))

    vec_dir, spare = tmp_path / "vectors", tmp_path / "spare"
    part = table(vec_dir, range(40), 2)[0]
    [spare_part] = table(spare, range(100, 120), 1)
    _, corpus = _hybrid_tables(spark, tmp_path / "hybrid", duplicate_ids=False)
    svc = api.SearchService(vectors=spark.read.parquet(str(vec_dir)), corpus=corpus)

    def check(target):
        got = _id_scores(svc.find_similar(target, top_k=50))
        assert got == _id_scores(find_similar(svc.vectors, target, k=50, vec_col=svc.vec_col))
        return svc._dense  # noqa: SLF001

    first = check(0)
    svc.search("alpha beta").collect()
    svc.hybrid_search("alpha beta").collect()
    assert svc._dense is first  # noqa: SLF001  — unchanged files: reused

    (vec_dir / f".{part}.crc").unlink()
    shutil.copy2(spare / spare_part, vec_dir / part)  # older mtime, new bytes
    rebuilt = check(100)  # id 100 is only in the new bytes
    # same plan as the rebuilt index, so only the handle can tell it was unpersisted
    assert rebuilt is not first and not first.frame.is_cached

    svc.vectors = spark.read.parquet(str(spare))
    reassigned = check(105)
    assert reassigned is not rebuilt and rebuilt.frame.storageLevel == StorageLevel.NONE

    svc.vec_col = "alt"
    alt = check(105)
    assert alt is not reassigned and alt.vec_col == "alt"
    assert reassigned.frame.storageLevel == StorageLevel.NONE

    assert alt.frame.storageLevel != StorageLevel.NONE
    stats = svc._bm25  # noqa: SLF001
    assert stats.docs.storageLevel != StorageLevel.NONE
    svc.release_caches()
    assert svc._dense is None and svc._bm25 is None  # noqa: SLF001
    assert alt.frame.storageLevel == StorageLevel.NONE
    assert stats.docs.storageLevel == StorageLevel.NONE


def test_dense_index_survives_another_services_release(spark, sf_dir):
    """Two services over equal vectors plans share one Spark cache entry.
    When one releases it, the other rebuilds its index on the next request
    instead of silently reading the vectors file."""
    a = api.SearchService(vectors=load_table(spark, sf_dir, "embeddings"))
    b = api.SearchService(vectors=load_table(spark, sf_dir, "embeddings"))
    try:
        for svc in (a, b):
            svc.search("fast join table scan").collect()
        a.release_caches()
        for _ in range(2):
            warm = b.search("fast join table scan")
            warm.collect()
            assert "InMemoryTableScan" in warm._jdf.queryExecution().executedPlan().toString()
    finally:
        a.release_caches()
        b.release_caches()


def test_first_dense_request_materialises_the_index(spark, tracer, tmp_path):
    """The index adds no job: a cold search runs the one job an uncached
    top-k runs, and the next request reads the cached rows."""
    vectors, _ = _hybrid_tables(spark, tmp_path, duplicate_ids=False)
    svc = api.SearchService(vectors=vectors)
    try:
        assert _counters(tracer, "cold_search", svc.search("alpha").collect)["jobs"] == 1
        cache = spark._jsparkSession.sharedState().cacheManager()  # noqa: SLF001
        cached = cache.lookupCachedData(svc._dense.frame._jdf)  # noqa: SLF001
        assert cached.get().cachedRepresentation().cacheBuilder().isCachedColumnBuffersLoaded()
    finally:
        svc.release_caches()


# ---------------------------------------------------------------------------
# request counters
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def warm_service(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    svc = api.SearchService(vectors=emb, corpus=docs)
    requests = {
        "search": lambda: api.search_documents(svc, "fast join table scan", top_k=10),
        "search_by_document": lambda: api.search_documents(
            svc, "fast join", top_k=5, document_id=3),
        "find_similar": lambda: svc.find_similar(42, top_k=5).select("vec_id", "score").collect(),
        "hybrid_search": lambda: svc.hybrid_search("fast join table scan").collect(),
    }
    for call in requests.values():
        call()
        call()
    yield svc, requests
    svc.release_caches()


@pytest.mark.parametrize("kind", ["search", "search_by_document", "find_similar"])
def test_dense_requests_run_two_jobs_and_no_shuffle(tracer, warm_service, kind):
    _, requests = warm_service
    c = _counters(tracer, kind, requests[kind])
    assert c["jobs"] == 2 and c["shuffle_write_bytes"] == 0, c


def test_warm_hybrid_request_counters(spark, tracer, warm_service):
    svc, requests = warm_service
    dense = _counters(tracer, "search", requests["search"])
    hybrid = _counters(tracer, "hybrid_search", requests["hybrid_search"])
    assert hybrid["jobs"] <= 3 and hybrid["shuffle_write_bytes"] == 0, hybrid
    assert hybrid["tasks"] <= 2 * dense["tasks"], (hybrid, dense)
    before = _compiles(spark)
    out = svc.hybrid_search("the data engine scan rows")  # new terms
    assert _compiles(spark) - before <= 1
    assert _counters(tracer, "hybrid_result", out.collect)["jobs"] == 0


# ---------------------------------------------------------------------------
# local frames
# ---------------------------------------------------------------------------


def test_local_frame_collects_without_a_job(spark, tracer):
    schema = T.StructType([
        T.StructField("id", T.LongType()), T.StructField("v", T.ArrayType(T.DoubleType())),
        T.StructField("s", T.StructType([T.StructField("a", T.StringType())])),
        T.StructField("m", T.MapType(T.StringType(), T.LongType())),
    ])
    rows = [(1, [0.5, None], ("x",), {"k": 2}), (None, None, None, None)]
    df = local_frame(spark, rows, schema)
    got = _counters(tracer, "local", df.collect)
    assert got["jobs"] == 0
    assert df.schema == schema
    assert df.collect() == spark.createDataFrame(rows, schema).collect()
    assert local_frame(spark, [], schema).collect() == []


@pytest.mark.parametrize("fails", [False, True])
def test_rerank_with_provider_returns_a_local_frame(spark, sf_dir, tracer, fails):
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    qv = [float(x) for x in emb.first()["embedding"]]
    from frappe_data_pipelines_spark.operators.search import knn_topk

    cands = knn_topk(emb, qv, k=25).join(docs, F.col("vec_id") == F.col("doc_id")) \
        .select("doc_id", "text", "score", "embedding", "label")

    class Provider:
        def rerank(self, query, texts):
            if fails:
                raise RuntimeError("provider down")
            return [float(len(t) % 7) / 3 for t in texts]

    out = rerank_with_provider(cands, "q", Provider(), top_k=6)
    got = _counters(tracer, "rerank_frame", out.collect)
    assert got["jobs"] == 0
    # the old form: createDataFrame over dict rows
    rows = cands.orderBy(F.desc("score"), F.col("doc_id").asc()).collect()
    if fails:
        old = [{**r.asDict(), "relevance": None} for r in rows[:6]]
    else:
        scores = Provider().rerank("q", [r["text"] for r in rows])
        ranked = sorted(zip(rows, scores), key=lambda t: (-float(t[1]), t[0]["doc_id"]))[:6]
        old = [{**r.asDict(), "relevance": round(float(s), 6)} for r, s in ranked]
    old_df = spark.createDataFrame(
        old, T.StructType([*cands.schema.fields, T.StructField("relevance", T.DoubleType())]))
    assert out.schema == old_df.schema
    assert out.collect() == old_df.collect()
    assert all(r["relevance"] is None for r in out.collect()) is fails
