"""Runnable tour of the engine's public surface (README quickstart, live).

Usage: python tools/demo.py [sf_dir]
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from pyspark.sql import functions as F

    from frappe_data_pipelines_spark.api import PipelineEngine, SearchService, search_documents
    from frappe_data_pipelines_spark.operators.chunker import chunk_embed_documents
    from frappe_data_pipelines_spark.operators.dedup import minhash_lsh_pairs
    from frappe_data_pipelines_spark.session import get_spark
    from frappe_data_pipelines_spark.sources.tables import load_table

    spark = get_spark(app_name="fdp-demo")
    spark.sparkContext.setLogLevel("ERROR")
    docs = load_table(spark, sf, "documents")
    emb = load_table(spark, sf, "embeddings")

    print("== chunk -> embed in one Python pass (flagship ingestion path)")
    vectors = chunk_embed_documents(
        docs.limit(50), strategy="semantic", chunk_size=300, chunk_overlap=60
    )
    vectors.select("doc_id", "chunk_index", "character_count").show(5)

    print("== dense / hybrid / similar search")
    svc = SearchService(vectors=emb, corpus=docs)
    svc.search("fast join table scan", top_k=5).show()
    svc.hybrid_search("fast join table scan", top_k=5).show()
    svc.find_similar(42, top_k=3).show()
    print(search_documents(svc, "fast join table scan", top_k=2))

    print("== job management")
    jobs = docs.limit(100).select(
        F.col("doc_id").alias("source_doc_id"),
        F.when(F.col("doc_id") % 3 == 0, "Failed").otherwise("Completed").alias("status"),
        (F.col("doc_id") % 4).cast("int").alias("retry_count"),
        F.current_timestamp().alias("completed_at"),
    )
    engine = PipelineEngine(files=docs, jobs=jobs)
    print(engine.get_processing_stats())
    engine.retry_failed_jobs().show(5)

    print("== near-dup detection")
    minhash_lsh_pairs(docs, num_hashes=16, bands=4).show(5)


if __name__ == "__main__":
    main()
