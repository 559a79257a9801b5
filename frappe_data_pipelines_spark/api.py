"""User-facing engine API — the reference's entry-point surface
(SURVEY §2.J search API table) re-expressed over DataFrames.

Reference parity:
  * ``SearchService.search``            ↔ search_service.py:63-137
  * ``SearchService.search_by_document``↔ search_service.py:139-160
  * ``SearchService.find_similar``      ↔ search_service.py:162-236
  * ``SearchService.hybrid_search``     — BM25+RRF, the capability the
    reference declares in docstrings but never implemented
  * ``PipelineEngine.backfill/retry/retention/ingest_batch`` ↔ the
    whitelisted + scheduled tasks (§3.3)

Every method returns a DataFrame — callers compose further or collect.
Dense methods return lazy plans; ``hybrid_search`` collects its two
bounded candidate pools and returns the fused rows as a local relation.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from frappe_data_pipelines_spark.operators.embed import HashingEmbedder
from frappe_data_pipelines_spark.operators.search import (
    RRF_OVERFETCH,
    BM25Stats,
    DenseIndex,
    lexical_rerank,
    rrf_fuse_local,
)
from frappe_data_pipelines_spark.session import local_frame
from frappe_data_pipelines_spark.sources.tables import input_files_stat_key

RERANK_OVERFETCH = 5  # reference: top_k × 5 (search_service.py:83)


@dataclass
class SearchService:
    """Dense + hybrid search over a vectors DataFrame.

    ``vectors`` must carry (id_col, vec_col) plus any filterable payload
    columns; ``corpus`` (optional) carries (id_col, text_col) for the sparse/
    rerank stages.

    The service keeps two caches, each built on the first request that
    needs it, rebuilt when its frame or column is reassigned or any of the
    frame's input files is rewritten or its cached rows were unpersisted,
    and freed by ``release_caches()``:
    the dense index (``DenseIndex``: the vectors with |a| folded) that every
    dense request and the hybrid dense pool score, and the BM25 statistics
    (``BM25Stats``) of the hybrid sparse pool."""

    vectors: DataFrame
    corpus: DataFrame | None = None
    id_col: str = "vec_id"
    vec_col: str = "embedding"
    text_col: str = "text"
    embedder: object = field(default_factory=HashingEmbedder)
    reranker: object | None = None  # object with rerank(query, texts) -> scores
    _bm25: BM25Stats | None = field(default=None, init=False, repr=False, compare=False)
    _dense: DenseIndex | None = field(default=None, init=False, repr=False, compare=False)
    _keys: dict = field(default_factory=dict, init=False, repr=False, compare=False)

    def _embed_query(self, query_text: str) -> list[float]:
        return self.embedder.embed([query_text])[0]

    def search(
        self,
        query_text: str,
        top_k: int = 10,
        filters: dict | None = None,
        use_reranker: bool = False,
    ) -> DataFrame:
        """Dense KNN with optional conjunctive filters and rerank-then-cut
        (overfetch ×5 when reranking, reference heuristic). With no
        ``corpus`` there is no text to rerank: the top ``top_k`` come back
        in vector order, as on a provider failure (J4)."""
        rerank = use_reranker and self.corpus is not None
        k = top_k * RERANK_OVERFETCH if rerank else top_k
        hits = self._dense_index().knn(self._embed_query(query_text), k, self.id_col, filters)
        if rerank:
            # broadcast the <= top_k x 5 candidates, never the corpus
            hits = F.broadcast(hits)
            cands = hits.join(self.corpus, hits[self.id_col] == self.corpus["doc_id"]) \
                if self.id_col != "doc_id" else hits.join(self.corpus, "doc_id")
            if self.reranker is not None:
                from frappe_data_pipelines_spark.operators.search import rerank_with_provider

                # provider failure falls back to vector order (J4 contract)
                return rerank_with_provider(cands, query_text, self.reranker,
                                            top_k=top_k, id_col="doc_id",
                                            text_col=self.text_col)
            return lexical_rerank(cands, query_text.split(), top_k=top_k,
                                  id_col="doc_id", text_col=self.text_col)
        return hits

    def search_by_document(self, query_text: str, document_id, top_k: int = 5) -> DataFrame:
        """Filtered search scoped to one source document (B6 equality
        filter applied before scoring)."""
        return self.search(query_text, top_k=top_k, filters={"label": document_id})

    def find_similar(self, target_id, top_k: int = 5, exclude_same: dict | None = None) -> DataFrame:
        """Item-to-item similarity with self-exclusion (C5/B7)."""
        return self._dense_index().similar(target_id, top_k, self.id_col, exclude_same)

    def hybrid_search(self, query_text: str, top_k: int = 10, rrf_k: int = 60) -> DataFrame:
        """Dense + BM25 fused by Reciprocal Rank Fusion — the declared-but-
        missing capability, done properly.

        The rows equal ``rrf_fuse(dense, bm25_scores(corpus,
        query_text.split()), k=rrf_k, top_k=top_k)``, served as two bounded
        collects: the dense top ``top_k × 5``, scored from this service's
        dense index, and the sparse top ``top_k × 5``, scored from its BM25
        statistics. The fusion runs here over at most 2·top_k·5 ids and the
        ``(doc_id, rrf)`` result is a local relation, so collecting it runs
        no Spark job."""
        if self.corpus is None:
            raise ValueError("hybrid_search needs a corpus DataFrame")
        pool = top_k * RRF_OVERFETCH
        dense = self._dense_index().knn(self._embed_query(query_text), pool, self.id_col)
        dense_ids = [r[0] for r in dense.select(self.id_col).collect()]
        sparse = self._bm25_stats().top(query_text.split(), pool)
        rows = rrf_fuse_local(dense_ids, [r[0] for r in sparse], k=rrf_k, top_k=top_k)
        return local_frame(self.corpus.sparkSession, rows, self._fused_schema())

    def _fused_schema(self) -> T.StructType:
        """``rrf_fuse``'s output schema; its full outer join widens two
        different id types."""
        id_type = self.vectors.schema[self.id_col].dataType
        if id_type != self.corpus.schema["doc_id"].dataType:
            id_type = self.vectors.select(F.col(self.id_col).alias("doc_id")).join(
                self.corpus.select("doc_id"), "doc_id", "full_outer"
            ).schema["doc_id"].dataType
        return T.StructType([
            T.StructField("doc_id", id_type),
            T.StructField("rrf", T.DoubleType()),
        ])

    def _dense_index(self) -> DenseIndex:
        """The vectors with |a| folded, cached (``DenseIndex``)."""
        return self._cached("_dense", self.vectors, self.vec_col, DenseIndex.build)

    def _bm25_stats(self) -> BM25Stats:
        """The corpus's BM25 statistics."""
        return self._cached("_bm25", self.corpus, self.text_col,
                            lambda corpus, col: BM25Stats.build(corpus, text_col=col))

    def _cached(self, name: str, source: DataFrame, col: str, build):
        """The cache in field ``name``, built by ``build(source, col)`` and
        rebuilt when ``source``/``col`` is reassigned, any of ``source``'s
        input files is rewritten, or the cached frame was unpersisted (Spark
        shares one entry between equal plans, so another service's
        ``release_caches()`` drops it). The cache holds ``source``, so the
        ``id`` in its key cannot be reused by another frame while it
        stands."""
        key = (id(source), col, input_files_stat_key(source))
        held = getattr(self, name)
        if held is None or self._keys.get(name) != key or not held.live():
            self._release(name)
            setattr(self, name, build(source, col))
            self._keys[name] = key
        return getattr(self, name)

    def _release(self, name: str) -> None:
        held = getattr(self, name)
        if held is not None:
            held.release()
        setattr(self, name, None)
        self._keys.pop(name, None)

    def release_caches(self) -> None:
        """Free the dense index and the BM25 statistics the service keeps;
        the next request that needs one rebuilds it."""
        self._release("_dense")
        self._release("_bm25")


@dataclass
class PipelineEngine:
    """The reference's whitelisted + scheduled task surface (§3.3) as one
    facade: backfill, retry, retention, stats, cascade delete, batch run.

    State tables (``files``, ``jobs``) are caller-provided DataFrames —
    parquet, Delta, or anything ``spark.read`` produces; every method
    returns a lazy plan (or a dict of scalars for stats)."""

    files: DataFrame
    jobs: DataFrame
    chunks: DataFrame | None = None
    settings: object | None = None  # EngineSettings; defaults when None

    ACTIVE_STATUSES = (
        "Queued", "Extracting Text", "Chunking", "Enriching Context",
        "Embedding", "Storing Vectors", "Completed",
    )  # data_pipeline_settings.py:166-170

    def process_existing_files(
        self, enabled_langs: list[str] | None = None, max_chars: int | None = None
    ) -> DataFrame:
        """A12 backfill: files without an active-or-done job, type+size
        gated, as new Queued job rows (data_pipeline_settings.py:142-220)."""
        from frappe_data_pipelines_spark.operators.pipeline import backfill_jobs

        return backfill_jobs(
            self.files, self.jobs, enabled_langs=enabled_langs, max_chars=max_chars
        )

    def retry_failed_jobs(self) -> DataFrame:
        """B4/I3 hourly retry sweep (process_embedding.py:518-544)."""
        from frappe_data_pipelines_spark.operators.pipeline import retry_eligible

        return retry_eligible(self.jobs)

    def cleanup_old_jobs(self, days: int = 30) -> DataFrame:
        """I4 retention: kept-rows complement of Completed-older-than-N-days
        (process_embedding.py:547-573)."""
        from frappe_data_pipelines_spark.operators.pipeline import retention_sweep

        return retention_sweep(self.jobs, days=days)

    def on_file_delete(self, doc_id) -> list[DataFrame]:
        """A15 cascading delete across jobs/chunks
        (drive_file_handler.py:98-149)."""
        from frappe_data_pipelines_spark.operators.pipeline import cascade_delete

        tables = [self.jobs] + ([self.chunks] if self.chunks is not None else [])
        return cascade_delete(doc_id, *tables)

    def get_processing_stats(self) -> dict:
        """D1 status-bucket counts (data_pipeline_settings.py:223-236) in a
        single aggregation pass."""
        agg = self.jobs.agg(
            F.count("*").alias("total_jobs"),
            *[
                F.count(F.when(F.col("status") == s, 1)).alias(s)
                for s in ("Queued", "Failed", "Completed")
            ],
        ).first()
        stats = {
            "total_files": self.files.count(),
            "total_jobs": agg["total_jobs"],
            "jobs_by_status": {s: agg[s] for s in ("Queued", "Failed", "Completed")},
        }
        if self.chunks is not None:
            stats["total_chunks"] = self.chunks.count()
        return stats

    def run_batch(self, **kwargs) -> tuple[DataFrame, DataFrame]:
        """J6 orchestrator: chunk → embed every eligible job in one plan
        (process_embedding.py:84-281). When ``settings`` is present, its
        strategy + size/overlap (factory precedence, chunking_service.py:
        484-522) become the defaults; explicit kwargs still win.

        Both outputs come from ONE chunk+embed pass: persist the chunk rows
        before using both, or every action on the job rows embeds every
        chunk again (see ``run_pipeline_batch``)."""
        from frappe_data_pipelines_spark.operators.pipeline import run_pipeline_batch

        if self.settings is not None:
            size, overlap = self.settings.effective_chunk_params
            kwargs.setdefault("strategy", self.settings.chunking_strategy)
            kwargs.setdefault("chunk_size", size)
            kwargs.setdefault("chunk_overlap", overlap)
        return run_pipeline_batch(self.files, self.jobs, **kwargs)

    def cleanup_old_jobs_default(self) -> DataFrame:
        """I4 with the configured retention window."""
        days = self.settings.retention_days if self.settings else 30
        return self.cleanup_old_jobs(days=days)

    def scrub_incoming(
        self,
        new_docs: DataFrame,
        min_len: int = 40,
        fp_cache_path: str | None = None,
    ) -> DataFrame:
        """Ingest-door hygiene (beyond-reference surface): cut every region
        of an arriving document that already exists verbatim in the
        engine's file corpus — (doc_id, n_chars, n_spans, chars_removed,
        n_kept, cleaned_text) via the winnow-prefiltered incremental scrub
        (the corpus pays a fingerprint scan, never the stride-1 blowup).
        The corpus fingerprint table is built ONCE per engine per
        ``min_len`` and persisted — repeat calls (the facade's whole point
        at an ingest door) reuse it instead of re-fingerprinting the
        corpus, the same cache ``start_ingest_stream`` keeps for its
        stream lifetime. ``release_caches()`` frees it. Requires
        ``files`` to carry a ``text`` column.

        ``fp_cache_path``: optional DISK cache so the corpus fingerprint
        scan survives ENGINE RESTARTS (VERDICT r9 task 7) — a parquet
        table plus a meta sidecar recording (min_len, k). A fresh engine
        pointed at a matching cache loads it instead of re-running the
        corpus kernel; a (min_len)-mismatched cache is rebuilt in place.
        Staleness is the caller's contract, exactly like any materialized
        derived table: rebuild (delete the path) when the corpus changes.

        CONSTRAINT (ADVICE r10): ``fp_cache_path`` must live on a
        filesystem the DRIVER can reach with plain ``os`` I/O (local disk,
        NFS) — the meta sidecar is driver-local by design while the parquet
        data goes through Spark's Hadoop FS, so on a purely remote default
        FS (HDFS/S3) the meta check would never match and the cache would
        silently rebuild every restart. The data+meta pair is committed
        via write-to-temp-then-rename (data first, meta last), so a reader
        never sees a half-written table; two engines racing on the SAME
        path still last-write-win — give concurrent writers distinct
        paths."""
        if "text" not in self.files.columns:
            raise ValueError(
                "scrub_incoming needs the engine's files table to carry text"
            )
        import json
        import os

        from frappe_data_pipelines_spark.operators.dedup import (
            corpus_winnow_fingerprints,
            incremental_substring_scrub,
        )

        if getattr(self, "_scrub_fp", None) is None or self._scrub_fp_min_len != min_len:
            self.release_caches()
            spark = self.files.sparkSession
            fp = None
            meta_path = data_path = None
            if fp_cache_path is not None:
                meta_path = os.path.join(fp_cache_path, "_scrub_fp_meta.json")
                data_path = os.path.join(fp_cache_path, "fingerprints")
                if os.path.isfile(meta_path):
                    with open(meta_path) as f:
                        meta = json.load(f)
                    if meta.get("min_len") == min_len:
                        fp = spark.read.parquet(data_path)
            if fp is None:
                fp = corpus_winnow_fingerprints(self.files, min_len=min_len)
                if fp_cache_path is not None:
                    import shutil

                    # temp-then-rename, data first, meta last: a crash at
                    # any point leaves either the old consistent pair or a
                    # missing meta (→ rebuild), never a half-written table
                    # visible under the final name (ADVICE r10). A racing
                    # writer can recreate data_path between our rmtree and
                    # rename (rename then raises ENOTEMPTY/EEXIST) — retry
                    # a few times, and if the race persists adopt the other
                    # writer's result: both writers derive the identical
                    # fingerprint table from the same corpus, so losing the
                    # rename is winning the cache (ADVICE r11). The tmp dir
                    # is always cleaned up, win or lose.
                    tmp_data = data_path + f".tmp-{os.getpid()}"
                    try:
                        fp.write.mode("overwrite").parquet(tmp_data)
                        for attempt in range(3):
                            if os.path.isdir(data_path):
                                shutil.rmtree(data_path, ignore_errors=True)
                            try:
                                os.rename(tmp_data, data_path)
                                break
                            except OSError:
                                if attempt == 2 and not os.path.isdir(
                                    data_path
                                ):
                                    raise
                    finally:
                        shutil.rmtree(tmp_data, ignore_errors=True)
                    tmp_meta = meta_path + f".tmp-{os.getpid()}"
                    with open(tmp_meta, "w") as f:
                        json.dump({"min_len": min_len, "kernel": "winnow"}, f)
                    os.replace(tmp_meta, meta_path)
                    fp = spark.read.parquet(data_path)
            self._scrub_fp = fp.persist()
            self._scrub_fp_min_len = min_len
        return incremental_substring_scrub(
            self.files, new_docs, min_len=min_len, corpus_fp=self._scrub_fp
        )

    def release_caches(self) -> None:
        """Unpersist engine-held caches (the scrub fingerprint table) —
        call when the engine is done, or before swapping ``files``."""
        fp = getattr(self, "_scrub_fp", None)
        if fp is not None:
            fp.unpersist()
            self._scrub_fp = None

    def screen_incoming(
        self, new_docs: DataFrame, terms: DataFrame, max_hits: int = 0
    ) -> DataFrame:
        """Ingest-door blocklist screening (the C4 banned-words rule,
        ``operators/blocklist.py``): per arriving doc, (doc_id, n_hits,
        n_terms, first_pos, blocked) — one Aho-Corasick pass however long
        the term list; ``blocked`` applies the keep-at-most-``max_hits``
        rule so callers can dead-letter or drop. Pairs with
        ``scrub_incoming`` as the facade's door-hygiene surface (the
        streaming engine wires both via ``scrub_against`` /
        ``blocklist_terms``)."""
        from frappe_data_pipelines_spark.operators.blocklist import blocklist_hits

        return blocklist_hits(new_docs, terms).withColumn(
            "blocked", F.col("n_hits") > max_hits
        )

    def score_incoming(
        self,
        new_docs: DataFrame,
        lm_path: str,
        ref_pred=None,
        rebuild: bool = False,
        id_col: str = "doc_id",
        text_col: str = "text",
    ) -> DataFrame:
        """Ingest-door quality scoring: per arriving doc, (id,
        n_transitions, kn_score) from the PERSISTED Kneser-Ney bigram LM
        (``operators/selection.py:kn_read_score``) — the CCNet move of
        gating a crawl on an LM trained from the trusted corpus (Wenzek
        et al. 2020), in the incremental-door shape of
        ``scrub_incoming``: the LM is trained ONCE from the engine's
        standing ``files`` table (slice selected by ``ref_pred``; whole
        corpus when None) and persisted at ``lm_path``; after that every
        arriving batch pays only its own bigram aggregate plus three
        dictionary joins — zero standing-corpus work per batch.
        ``rebuild=True`` forces retraining (e.g. after a corpus swap);
        callers threshold ``kn_score`` (avg transition log-prob;
        perplexity = exp(-kn_score)) to keep/dead-letter. Completes the
        door triad: scrub (dedup) / screen (blocklist) / score
        (quality)."""
        import os

        from frappe_data_pipelines_spark.operators.selection import (
            kn_read_score,
            kn_write,
        )

        if rebuild or not os.path.isfile(
            os.path.join(lm_path, "_kn_meta.json")
        ):
            if text_col not in self.files.columns:
                raise ValueError(
                    "score_incoming needs the engine's files table to "
                    f"carry {text_col!r} to train the reference LM"
                )
            kn_write(
                self.files,
                F.lit(True) if ref_pred is None else ref_pred,
                lm_path,
                id_col=id_col,
                text_col=text_col,
            )
        return kn_read_score(
            new_docs.sparkSession,
            new_docs,
            lm_path,
            id_col=id_col,
            text_col=text_col,
        )


def search_documents(
    service: SearchService,
    query: str,
    top_k: int = 10,
    document_id=None,
) -> list[dict]:
    """The reference's whitelisted HTTP entry point
    (search_service.py:324-358), byte-compatible result dicts: chunk_id,
    score, text, context, source_file, section_path. DataFrame plan runs
    distributed; only the top_k dicts reach the caller.

    The top-k hits are collected first; then only their corpus rows are
    fetched (an ``isin`` on ``doc_id`` that the scan prunes by) and merged
    here, as a broadcast left join on the hit id would: hit order kept, one
    row per matching corpus row, corpus fields None for a hit with no
    corpus row, and a hit field wins a name clash. No request ships the
    corpus."""
    if document_id is not None:
        hits = service.search_by_document(query, document_id, top_k=int(top_k))
    else:
        hits = service.search(query, top_k=int(top_k))
    rows = [r.asDict() for r in hits.collect()]
    if service.corpus is not None and "text" not in hits.columns:
        rows = _merge_corpus_rows(rows, service.corpus, service.id_col)
    return [
        {
            "chunk_id": r.get(service.id_col),
            "score": r.get("score"),
            "text": r.get(service.text_col, ""),
            "context": r.get("context_prefix", ""),
            "source_file": r.get("source", None),
            "section_path": r.get("section_path", "Document"),
        }
        for r in rows
    ]


def _merge_corpus_rows(hits: list[dict], corpus: DataFrame, id_col: str) -> list[dict]:
    """Left-join collected ``hits`` to ``corpus`` on ``doc_id`` driver-side,
    reading only the corpus rows whose ``doc_id`` is a hit id. Rows sharing
    an id come last-scanned first, the order a broadcast hash join's build
    side returns them in."""
    ids = list(dict.fromkeys(h[id_col] for h in hits if h[id_col] is not None))
    matches: dict = {}
    if ids:
        for c in reversed(corpus.filter(F.col("doc_id").isin(ids)).collect()):
            matches.setdefault(c["doc_id"], []).append(c.asDict())
    missing = [dict.fromkeys(corpus.columns)]
    return [{**c, **h} for h in hits for c in matches.get(h[id_col], missing)]
