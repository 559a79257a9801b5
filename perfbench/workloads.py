"""The four benchmark workloads.

Each workload builds its inputs from the seed (``build``), warms up, then
runs timed operations. Outputs are kept and checked after the timed loop,
so checking costs neither latency nor CPU of the timed region. A failed
check counts the operation as failed.

The engine is driven only through its public entry points: ``api``
(``PipelineEngine``, ``SearchService``, ``search_documents``), the
``operators`` functions and ``streaming.ingest.start_ingest_stream``.
"""

from __future__ import annotations

import hashlib
import math
import os
import random
import re
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import inputs
import procstat
from frappe_data_pipelines_spark import api
from frappe_data_pipelines_spark.operators import blocklist, dedup
from frappe_data_pipelines_spark.operators.chunker import recursive_character_split
from frappe_data_pipelines_spark.operators.embed import HashingEmbedder, embed_documents
from frappe_data_pipelines_spark.streaming.ingest import (
    read_ingest_sink,
    start_ingest_stream,
    stop_streaming_query,
)
from tools.scaleproof import replicate_documents

CHUNK_SIZE, CHUNK_OVERLAP = 200, 40


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    tracer: object | None = None  # spans.Tracer in the traced run

    def layer(self, name: str, fn):
        """One layer call. Untraced: ``fn()`` as is. Traced: inside its
        own span (``fn`` must then materialise its output)."""
        if self.tracer is None:
            return fn()
        return self.tracer.span(name, fn)

    def docs_df(self, docs: list, path: str, parts: int = 4):
        """Write generated docs as a parquet table of ``parts`` files (one
        scan partition each) and return its scan."""
        write_docs(docs, path, parts)
        return self.spark.read.parquet(path)


DOC_ARROW = pa.schema([
    ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
    ("source", pa.string()), ("n_chars", pa.int64()),
])
# given to spark.read, so opening an input skips schema inference
DOC_DDL = "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
JOBS_DDL = "source_doc_id BIGINT, status STRING, retry_count INT"


def write_docs(docs: list, path: str, parts: int = 1) -> None:
    """Generated docs -> parquet files under ``path``."""
    write_rows([dict(zip(DOC_ARROW.names, d.row())) for d in docs], path, parts)


def write_rows(rows: list[dict], path: str, parts: int = 1) -> None:
    """Document rows -> ``parts`` parquet files under ``path`` (driver-side,
    no Spark job: the inputs exist before the engine sees them)."""
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    step = -(-len(rows) // parts)
    for k in range(0, len(rows), step):
        table = pa.Table.from_pylist(rows[k:k + step], schema=DOC_ARROW)
        pq.write_table(table, os.path.join(path, f"part-{k // step:05d}.parquet"))


def write_sink(chunks, job_rows, out: str) -> None:
    """Write chunk vectors and job rows as parquet. ``job_rows`` is derived
    from ``chunks``, which is cached for the two writes so its plan runs
    once."""
    chunks.persist()
    try:
        chunks.write.parquet(os.path.join(out, "chunks"))
        job_rows.write.parquet(os.path.join(out, "jobs"))
    finally:
        chunks.unpersist()


@dataclass
class Result:
    latencies_s: list = field(default_factory=list)
    # per completed op: (items, wall seconds, CPU seconds of the process tree)
    per_op: list = field(default_factory=list)
    items: int = 0
    wall_s: float = 0.0
    cpu_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)

    def fail(self, msg: str) -> None:
        self.failed += 1
        if len(self.errors) < 5:
            self.errors.append(msg)

    def rates(self, window_ops: int) -> tuple[float, float]:
        """(items per second, CPU ms per item), each the median over
        windows of ``window_ops`` consecutive ops, so a burst of contention
        on the host moves one window, not the run's figure. A window is
        one whole cycle of the workload's op pattern, so every window does
        the same mix of work; a trailing partial cycle is left out. An
        open-loop run has no ops of its own and uses its totals."""
        ops = self.per_op or [(self.items, self.wall_s, self.cpu_s)]
        size = min(window_ops, len(ops))
        windows = [ops[k:k + size] for k in range(0, len(ops) - size + 1, size)]
        rates, cpus = [], []
        for win in windows:
            items = sum(o[0] for o in win)
            rates.append(items / sum(o[1] for o in win))
            cpus.append(sum(o[2] for o in win) * 1000.0 / max(1, items))
        return statistics.median(rates), statistics.median(cpus)


def checkpoint(df):
    return df.localCheckpoint(eager=True)


def chunk_hash(rows) -> tuple[int, str]:
    """(count, order-insensitive digest) of (doc_id, chunk_index, text)."""
    acc = 0
    n = 0
    for doc_id, idx, text in rows:
        h = hashlib.blake2b(f"{doc_id}\x00{idx}\x00{text}".encode(), digest_size=8)
        acc = (acc + int.from_bytes(h.digest(), "big")) % (1 << 64)
        n += 1
    return n, f"{acc:016x}"


class Workload:
    name = ""
    item = "op"
    WARMUP_OPS = 1
    WINDOW_OPS = 1  # ops in one cycle of the op pattern (see Result.rates)

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.spark = ctx.spark

    def path(self, *parts) -> str:
        return os.path.join(self.ctx.work, self.name, *map(str, parts))

    def build(self, rep: int) -> None:
        """Generate the seed's inputs (repeatable; setup reports the median)."""
        raise NotImplementedError

    def prepare(self) -> None:
        """Engine-side set-up done once on the last build (index, stream)."""

    def warmup(self) -> None:
        for i in range(self.WARMUP_OPS):
            self.check(-1 - i, self.op(-1 - i)[1], Result())

    def op(self, i: int):
        """One timed operation; returns (items done, output to check)."""
        raise NotImplementedError

    def check(self, i: int, out, res: Result) -> None:
        raise NotImplementedError

    def measure(self, seconds: float) -> Result:
        """Closed loop, one client: the next op starts when the last ends."""
        res = Result()
        outs = []
        cpu0 = procstat.tree_cpu_s()
        t0 = time.perf_counter()
        i = 1
        while time.perf_counter() - t0 < seconds or not outs:
            c = procstat.tree_cpu_s()
            t = time.perf_counter()
            res.attempted += 1
            try:
                items, out = self.op(i)
            except Exception as e:  # noqa: BLE001 — a raising op is a failed op
                res.fail(f"op {i} raised {type(e).__name__}: {str(e)[:200]}")
                i += 1
                continue
            dt = time.perf_counter() - t
            res.latencies_s.append(dt)
            res.per_op.append((items, dt, procstat.tree_cpu_s() - c))
            res.items += items
            outs.append((i, out))
            i += 1
        res.wall_s = time.perf_counter() - t0
        res.cpu_s = procstat.tree_cpu_s() - cpu0
        for j, out in outs:
            self.check(j, out, res)
        return res

    def trace_pass(self, res: Result) -> dict:
        """Traced ops for the per-layer profile; returns work counts."""
        raise NotImplementedError

    def close(self) -> None:
        """Stop what ``build`` started."""


# ---------------------------------------------------------------------------
# bulk_ingest: backfill anti-join -> chunk -> embed -> parquet sink
# ---------------------------------------------------------------------------


class BulkIngest(Workload):
    """Each op ingests the next batch of the ~10x replica corpus; a seeded
    share of every batch already has a Completed job, which the backfill
    anti-join drops."""

    name = "bulk_ingest"
    item = "doc"
    REPLICAS, BATCH_DOCS, DONE_SHARE = 10, 2500, 0.2
    WARMUP_OPS = 2

    def build(self, rep: int) -> None:
        base = self.path(f"rep{rep}", "base")
        write_docs(inputs.documents(self.ctx.seed).docs, base)
        corpus = replicate_documents(self.spark.read.schema(DOC_DDL).parquet(base), self.REPLICAS)
        rows = sorted(corpus.toArrow().to_pylist(), key=lambda r: r["doc_id"])
        rng = random.Random(self.ctx.seed + 17)
        self.batches = []
        for b in range(0, len(rows), self.BATCH_DOCS):
            docs = rows[b:b + self.BATCH_DOCS]
            fpath = self.path(f"rep{rep}", "files", b)
            write_rows(docs, fpath, 4)
            done = sorted(d["doc_id"] for d in docs if rng.random() < self.DONE_SHARE)
            jpath = self.path(f"rep{rep}", "jobs", b)
            os.makedirs(jpath, exist_ok=True)
            pq.write_table(pa.table({
                "source_doc_id": pa.array(done, pa.int64()),
                "status": pa.array(["Completed"] * len(done), pa.string()),
                "retry_count": pa.array([0] * len(done), pa.int32()),
            }), os.path.join(jpath, "part-00000.parquet"))
            done_set = set(done)
            queued = [(d["doc_id"], d["text"]) for d in docs if d["doc_id"] not in done_set]
            self.batches.append((
                self.spark.read.schema(DOC_DDL).parquet(fpath),
                self.spark.read.schema(JOBS_DDL).parquet(jpath),
                queued,
            ))

    def op(self, i: int):
        files, jobs, queued_docs = self.batches[i % len(self.batches)]
        out = self.path("out", i)
        ctx = self.ctx
        if ctx.tracer is None:
            queued = api.PipelineEngine(files, jobs).process_existing_files()
            chunks, done = api.PipelineEngine(files, queued).run_batch(
                chunk_size=CHUNK_SIZE, chunk_overlap=CHUNK_OVERLAP
            )
            write_sink(chunks, done, out)
            return len(queued_docs), out
        # the same calls, one materialised layer at a time: the chunker span
        # is run_batch's own plan with the embedding column pruned, and the
        # embed span applies the embed layer to the chunker's output
        queued = ctx.layer(
            "pipeline.backfill_jobs",
            lambda: checkpoint(api.PipelineEngine(files, jobs).process_existing_files()),
        )
        chunks, done = api.PipelineEngine(files, queued).run_batch(
            chunk_size=CHUNK_SIZE, chunk_overlap=CHUNK_OVERLAP
        )
        chunked = ctx.layer(
            "chunker.chunk_documents", lambda: checkpoint(chunks.drop("embedding"))
        )
        vectors = ctx.layer(
            "embed.embed_documents",
            lambda: checkpoint(embed_documents(chunked, text_col="chunk_text")),
        )
        job_rows = vectors.groupBy("doc_id").agg(F.count("*").alias("n_chunks")).select(
            F.col("doc_id").alias("source_doc_id"),
            F.lit("Completed").alias("status"),
            "n_chunks",
            F.current_timestamp().alias("completed_at"),
        )
        if vectors.columns != chunks.columns or job_rows.columns != done.columns:
            raise RuntimeError("run_batch's output columns changed; update the traced op")
        ctx.layer("sink.write_parquet", lambda: write_sink(vectors, job_rows, out))
        return len(queued_docs), out

    def check(self, i: int, out: str, res: Result) -> None:
        _, _, queued_docs = self.batches[i % len(self.batches)]
        jobs = pq.read_table(os.path.join(out, "jobs")).to_pydict()
        if (sorted(jobs["source_doc_id"]) != sorted(d for d, _ in queued_docs)
                or set(jobs["status"]) != {"Completed"}):
            res.fail(f"ingest op {i}: job rows do not match the queued docs")
        t = pq.read_table(
            os.path.join(out, "chunks"), columns=["doc_id", "chunk_index", "chunk_text"]
        ).to_pydict()
        got = chunk_hash(zip(t["doc_id"], t["chunk_index"], t["chunk_text"]))
        ref = chunk_hash(
            (doc_id, k, c)
            for doc_id, text in queued_docs
            for k, c in enumerate(recursive_character_split(text, CHUNK_SIZE, CHUNK_OVERLAP))
        )
        if got != ref:
            res.fail(f"ingest op {i}: chunks {got} != reference {ref}")
        self.chunks_out = got[0]
        shutil.rmtree(out, ignore_errors=True)

    def trace_pass(self, res: Result) -> dict:
        self.check(0, self.op(0)[1], res)
        return {"chunker.chunks_out": float(self.chunks_out)}


# ---------------------------------------------------------------------------
# search_serve: seeded request mix over a written index, 1 closed-loop client
# ---------------------------------------------------------------------------


_TOKEN = re.compile(r"[^a-z0-9]+")


def _topk(ids: np.ndarray, scores: np.ndarray, k: int) -> list[tuple[int, float]]:
    order = np.lexsort((ids, -scores))[:k]
    return [(int(ids[j]), float(scores[j])) for j in order]


def _same_ranking(got: list, ref: list, tol: float = 2e-6) -> bool:
    """Equal ids in order, or -- where float rounding splits a near-tie
    differently -- equal scores position by position within ``tol``."""
    if [g[0] for g in got] == [r[0] for r in ref]:
        return True
    return len(got) == len(ref) and all(
        abs(g[1] - r[1]) <= tol for g, r in zip(got, ref)
    )


class SearchServe(Workload):
    name = "search_serve"
    item = "request"
    N_QUERIES, TOP_POOL, WARMUP_S = 400, 5, 10.0
    WINDOW_OPS = len(inputs.MIX)
    KINDS = ("search", "search_by_document", "find_similar", "hybrid_search")

    def build(self, rep: int) -> None:
        corpus = inputs.documents(self.ctx.seed)
        self.files_path = self.path(f"rep{rep}", "files")
        write_docs(corpus.docs, self.files_path, 4)

    def prepare(self) -> None:
        files = self.spark.read.parquet(self.files_path)
        jobs = files.select(
            F.col("doc_id").alias("source_doc_id"),
            F.lit("Queued").alias("status"),
            F.lit(0).alias("retry_count"),
        )
        chunks, _ = api.PipelineEngine(files, jobs).run_batch(
            chunk_size=CHUNK_SIZE, chunk_overlap=CHUNK_OVERLAP
        )
        index = self.path("index")
        chunks.select(
            (F.col("doc_id") * 1000 + F.col("chunk_index")).alias("vec_id"),
            F.col("doc_id").alias("label"),
            "embedding",
            F.col("chunk_text").alias("text"),
        ).write.mode("overwrite").parquet(index)
        t = pq.read_table(index)
        self.ids = np.asarray(t["vec_id"].to_numpy())
        self.labels = np.asarray(t["label"].to_numpy())
        emb = np.array(t["embedding"].to_pylist(), dtype=np.float64)
        norms = np.linalg.norm(emb, axis=1)
        self.emb = emb / np.where(norms == 0, 1.0, norms)[:, None]
        self.texts = t["text"].to_pylist()
        self.toks = [[w for w in _TOKEN.split(s.lower()) if w] for s in self.texts]
        self.svc = api.SearchService(
            vectors=self.spark.read.parquet(index).select("vec_id", "label", "embedding"),
            corpus=self.spark.read.parquet(index).select(
                F.col("vec_id").alias("doc_id"), "text"
            ),
        )
        self.queries = inputs.make_queries(
            self.ctx.seed, self.N_QUERIES, sorted(set(self.labels.tolist())),
            self.ids.tolist(),
        )
        self.embedder = HashingEmbedder()

    def warmup(self) -> None:
        """Cycle the request mix for WARMUP_S: every request plans and
        compiles fresh code, so the JIT needs many before it settles."""
        t0 = time.perf_counter()
        i = 0
        while time.perf_counter() - t0 < self.WARMUP_S:
            q = self.queries[-1 - i]  # the tail; timed ops start at the head
            self.check(-1, (q, self._request(q)), Result())
            i += 1

    def _request(self, q):
        kind, arg, k = q
        svc = self.svc

        def call():
            if kind == "search":
                rows = api.search_documents(svc, arg, top_k=k)
                return [(r["chunk_id"], r["score"]) for r in rows]
            if kind == "search_by_document":
                rows = api.search_documents(svc, arg[0], top_k=k, document_id=arg[1])
                return [(r["chunk_id"], r["score"]) for r in rows]
            if kind == "find_similar":
                return [tuple(r) for r in svc.find_similar(arg, top_k=k)
                        .select("vec_id", "score").collect()]
            return [tuple(r) for r in svc.hybrid_search(arg, top_k=k).collect()]

        return self.ctx.layer(f"api.{kind}", call)

    def op(self, i: int):
        q = self.queries[i % len(self.queries)]
        return 1, (q, self._request(q))

    def _dense(self, qv) -> np.ndarray:
        q = np.asarray(qv, dtype=np.float64)
        n = np.linalg.norm(q)
        return np.round(self.emb @ (q / n if n else q), 6)

    def _bm25(self, text: str) -> dict:
        terms = {t.lower() for t in text.split()}
        n_docs = len(self.toks)
        avgdl = sum(len(t) for t in self.toks) / n_docs
        tf = [{} for _ in self.toks]
        df = dict.fromkeys(terms, 0)
        for j, toks in enumerate(self.toks):
            for w in toks:
                if w in terms:
                    tf[j][w] = tf[j].get(w, 0) + 1
            for w in tf[j]:
                df[w] += 1
        out = {}
        for j, counts in enumerate(tf):
            if counts:
                dl = len(self.toks[j])
                out[int(self.ids[j])] = round(sum(
                    math.log((n_docs - df[w] + 0.5) / (df[w] + 0.5) + 1.0)
                    * c * 2.2 / (c + 1.2 * (0.25 + 0.75 * dl / avgdl))
                    for w, c in counts.items()
                ), 6)
        return out

    def reference(self, q) -> list:
        kind, arg, k = q
        if kind == "find_similar":
            j = int(np.nonzero(self.ids == arg)[0][0])
            keep = self.ids != arg
            s = np.round(self.emb[keep] @ self.emb[j], 6)
            return _topk(self.ids[keep], s, k)
        text = arg[0] if kind == "search_by_document" else arg
        dense = self._dense(self.embedder.embed([text])[0])
        if kind == "search":
            return _topk(self.ids, dense, k)
        if kind == "search_by_document":
            keep = self.labels == arg[1]
            return _topk(self.ids[keep], dense[keep], k)
        pool = k * self.TOP_POOL
        rank_a = {d: r + 1 for r, (d, _) in enumerate(_topk(self.ids, dense, pool))}
        bm = self._bm25(text)
        bm_ids = np.array(list(bm), dtype=np.int64)
        bm_s = np.array(list(bm.values()), dtype=np.float64)
        rank_b = {d: r + 1 for r, (d, _) in enumerate(_topk(bm_ids, bm_s, pool))}
        fused = {
            d: round((1.0 / (60 + rank_a[d]) if d in rank_a else 0.0)
                     + (1.0 / (60 + rank_b[d]) if d in rank_b else 0.0), 6)
            for d in set(rank_a) | set(rank_b)
        }
        f_ids = np.array(list(fused), dtype=np.int64)
        return _topk(f_ids, np.array(list(fused.values())), k)

    def check(self, i: int, out, res: Result) -> None:
        q, got = out
        ref = self.reference(q)
        got = sorted(((int(a), float(b)) for a, b in got), key=lambda r: (-r[1], r[0]))
        if not _same_ranking(got, ref):
            res.fail(f"{q[0]} {q[1]!r}: top-k {got[:3]}... != numpy {ref[:3]}...")

    def trace_pass(self, res: Result) -> dict:
        for kind in self.KINDS:
            for q in [q for q in self.queries if q[0] == kind][:3]:
                self.check(0, (q, self._request(q)), res)
        return {}


# ---------------------------------------------------------------------------
# curate_dedup: LSH -> verified pairs -> cluster-safe splits -> scrub -> blocklist
# ---------------------------------------------------------------------------


def _shingles(text: str, n: int = 3) -> set:
    w = text.split()
    return {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)}


class CurateDedup(Workload):
    name = "curate_dedup"
    item = "doc"
    JACCARD, RECALL = 0.5, 0.85
    NUM_HASHES, BANDS, MIN_SPAN = 24, 8, 40

    def build(self, rep: int) -> None:
        self.corpus = inputs.curation_corpus(
            self.ctx.seed, near_dup_share=0.04, span_share=0.03, block_share=0.03,
        )
        self.docs = self.ctx.docs_df(self.corpus.docs, self.path(f"rep{rep}", "docs"))
        self.terms = self.spark.createDataFrame(
            list(enumerate(inputs.BLOCK_TERMS)), "term_id BIGINT, term STRING"
        )
        self.shingles = {d.doc_id: _shingles(d.text) for d in self.corpus.docs}

    def jaccard(self, a: int, b: int) -> float:
        x, y = self.shingles[a], self.shingles[b]
        return len(x & y) / len(x | y) if x | y else 0.0

    def op(self, i: int):
        ctx = self.ctx
        cand = ctx.layer("dedup.minhash_lsh_pairs", lambda: dedup.minhash_lsh_pairs(
            self.docs, num_hashes=self.NUM_HASHES, bands=self.BANDS,
        ).select("id_a", "id_b").collect())
        # verification: exact word 3-shingle Jaccard of each LSH candidate
        pairs = sorted(
            (r["id_a"], r["id_b"]) for r in cand
            if self.jaccard(r["id_a"], r["id_b"]) >= self.JACCARD
        )
        pairs_df = self.spark.createDataFrame(pairs, "id_a BIGINT, id_b BIGINT")
        splits = ctx.layer(
            "dedup.cluster_safe_splits",
            lambda: dedup.cluster_safe_splits(self.docs, pairs_df).collect(),
        )
        scrub = ctx.layer("dedup.exact_substring_scrub", lambda: dedup.exact_substring_scrub(
            self.docs, min_len=self.MIN_SPAN, prefilter="winnow",
        ).select("doc_id", "chars_removed", "cleaned_text").collect())
        hits = ctx.layer(
            "blocklist.blocklist_hits",
            lambda: blocklist.blocklist_hits(self.docs, self.terms)
            .select("doc_id", "n_hits").collect(),
        )
        return len(self.shingles), (len(cand), pairs, splits, scrub, hits)

    def check(self, i: int, out, res: Result) -> None:
        n_cand, pairs, splits, scrub, hits = out
        if any(self.jaccard(a, b) < self.JACCARD for a, b in pairs):
            res.fail(f"curate op {i}: emitted pair below verified Jaccard")
        found = set(pairs)
        recall = sum(p in found for p in self.corpus.near_dups) / len(self.corpus.near_dups)
        if recall < self.RECALL:
            res.fail(f"curate op {i}: near-dup recall {recall:.3f} < {self.RECALL}")
        split = {r["doc_id"]: (r["cluster_id"], r["split"]) for r in splits}
        if len(split) != len(self.shingles) or any(split[a] != split[b] for a, b in pairs):
            res.fail(f"curate op {i}: a duplicate cluster straddles splits")
        cleaned = {r["doc_id"]: r["cleaned_text"] for r in scrub}
        for span, src, tgt in self.corpus.spans:
            if span in cleaned.get(src, "") or span in cleaned.get(tgt, ""):
                res.fail(f"curate op {i}: injected span survived the scrub")
                break
        got = {r["doc_id"]: r["n_hits"] for r in hits}
        if any(got.get(d, 0) != self.corpus.blocked.get(d, 0) for d in self.shingles):
            res.fail(f"curate op {i}: blocklist hit counts differ")
        self.counts = {
            "dedup.lsh_candidates": float(n_cand),
            "dedup.lsh_useful_ratio": len(pairs) / n_cand if n_cand else 0.0,
            "dedup.scrub_chars_removed": float(sum(r["chars_removed"] for r in scrub)),
        }
        self.pairs = pairs

    def trace_pass(self, res: Result) -> dict:
        self.check(0, self.op(0)[1], res)
        stats: dict = {}
        pairs_df = self.spark.createDataFrame(self.pairs, "id_a BIGINT, id_b BIGINT")
        dedup.connected_components_star(pairs_df, stats=stats)
        return {**self.counts, "dedup.cc_rounds": float(stats["rounds"])}


# ---------------------------------------------------------------------------
# stream_door: open-loop file arrivals into the streaming ingest door
# ---------------------------------------------------------------------------


def _parse_ts(s: str) -> float:
    import datetime as dt

    return dt.datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp()


class StreamDoor(Workload):
    name = "stream_door"
    item = "doc"
    RATE_PER_S = 4.0
    MAX_LATE_S, MAX_BACKLOG_FILES, DRAIN_S = 0.25, 40, 30.0

    def build(self, rep: int) -> None:
        corpus = inputs.documents(self.ctx.seed)
        self.corpus_docs = corpus.docs
        self.corpus_path = self.path(f"rep{rep}", "corpus")
        write_docs(corpus.docs, self.corpus_path, 4)

    def prepare(self) -> None:
        self.corpus = self.spark.read.parquet(self.corpus_path)
        self.terms = self.spark.createDataFrame(
            list(enumerate(inputs.BLOCK_TERMS)), "term_id BIGINT, term STRING"
        )
        base = self.path("stream")
        shutil.rmtree(base, ignore_errors=True)
        self.inbox, self.staging = os.path.join(base, "in"), os.path.join(base, "staging")
        self.out, self.ckpt = os.path.join(base, "out"), os.path.join(base, "ckpt")
        os.makedirs(self.inbox)
        os.makedirs(self.staging)
        self.query = start_ingest_stream(
            self.spark, self.inbox, self.out, self.ckpt,
            max_files_per_trigger=256, available_now=False,
            scrub_against=self.corpus, blocklist_terms=self.terms,
        )
        self.rng = random.Random(self.ctx.seed + 99)
        self.next_id = 10_000_000
        self.files: list[dict] = []

    def _new_file(self) -> dict:
        """1-3 docs; some carry a 12-word corpus span (scrubbed at the
        door), some a blocklist term (dead-lettered)."""
        rng = self.rng
        docs = inputs.make_docs(rng, rng.randint(1, 3), self.next_id)
        self.next_id += len(docs)
        blocked = set()
        for d in docs:
            r = rng.random()
            words = d.text.split()
            if r < 0.3:
                src = rng.choice(self.corpus_docs).text.split()
                if len(src) > 12:
                    s = rng.randrange(len(src) - 12)
                    words[rng.randrange(len(words) + 1):0] = src[s:s + 12]
            elif r < 0.4:
                words.insert(rng.randrange(len(words) + 1), rng.choice(inputs.BLOCK_TERMS))
                blocked.add(d.doc_id)
            d.text = " ".join(words)
        return {"docs": docs, "blocked": blocked}

    def _drop(self, f: dict, name: str) -> None:
        rows = [d.row() for d in f["docs"]]
        table = pa.table(
            {k: [r[j] for r in rows] for j, k in
             enumerate(("doc_id", "text", "lang", "source", "n_chars"))},
            schema=pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                              ("lang", pa.string()), ("source", pa.string()),
                              ("n_chars", pa.int64())]),
        )
        tmp = os.path.join(self.staging, name)
        pq.write_table(table, tmp)
        os.rename(tmp, os.path.join(self.inbox, name))

    def _wait_for(self, ids: set, timeout: float) -> bool:
        deadline = time.time() + timeout
        while time.time() < deadline:
            if self._durable_ids() >= ids:
                return True
            time.sleep(0.1)
        return False

    def _durable_ids(self) -> set:
        p = os.path.join(self.out, "records", "sink=jobs")
        if not os.path.isdir(p):
            return set()
        try:
            t = pq.read_table(p, columns=["source_doc_id", "status"]).to_pydict()
        except (OSError, pa.ArrowInvalid):  # a part file still being renamed
            return set()
        return {d for d, s in zip(t["source_doc_id"], t["status"]) if s != "Queued"}

    def warmup(self) -> None:
        for n in range(3):
            f = self._new_file()
            self._drop(f, f"warm-{n}.parquet")
            self._wait_for({d.doc_id for d in f["docs"]}, 60)

    def measure(self, seconds: float) -> Result:
        """Open loop: file k is due at start + k / RATE_PER_S whether or not
        the stream has kept up; latency runs from the due time."""
        res = Result()
        q = self.query
        n_files = max(1, int(seconds * self.RATE_PER_S))
        planned = [self._new_file() for _ in range(n_files)]
        jobs0 = self.ctx.tracer.job_count() if self.ctx.tracer else None
        batch0 = (q.lastProgress or {}).get("batchId", -1)
        cpu0 = procstat.tree_cpu_s()
        start = time.time() + 0.05
        lateness = []
        for k, f in enumerate(planned):
            due = start + k / self.RATE_PER_S
            time.sleep(max(0.0, due - time.time()))
            self._drop(f, f"f{k:05d}.parquet")
            lateness.append(time.time() - due)
            f["due"] = due
        sched_end = time.time()
        all_ids = {d.doc_id for f in planned for d in f["docs"]}
        backlog_ids = all_ids - self._durable_ids()
        backlog = sum(1 for f in planned if any(d.doc_id in backlog_ids for d in f["docs"]))
        drained = self._wait_for(all_ids, self.DRAIN_S)
        res.wall_s = time.time() - start
        res.cpu_s = procstat.tree_cpu_s() - cpu0
        jobs = read_ingest_sink(self.spark, self.out, "jobs").collect()
        # a batch's progress event is posted just after its rows are durable
        last = max((r["batch_id"] for r in jobs), default=-1)
        deadline = time.time() + 10
        while (q.lastProgress or {}).get("batchId", -1) < last and time.time() < deadline:
            time.sleep(0.05)
        progress = [p for p in q.recentProgress if p["batchId"] > batch0 and p["numInputRows"] > 0]
        end_of = {p["batchId"]: _parse_ts(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1000.0
                  for p in progress}
        rows: dict = {}
        for r in jobs:
            rows.setdefault(r["source_doc_id"], []).append(r)
        for f in planned:
            res.attempted += 1
            ids = [d.doc_id for d in f["docs"]]
            ok = True
            batches = set()
            for d in ids:
                terminal = [r for r in rows.get(d, []) if r["status"] != "Queued"]
                if len(terminal) != 1:
                    ok = False
                    continue
                r = terminal[0]
                batches.add(r["batch_id"])
                want = "Failed" if d in f["blocked"] else "Completed"
                if r["status"] != want or (want == "Failed" and not r["error_message"]):
                    ok = False
            if not ok or len(batches) != 1 or batches.pop() not in end_of:
                res.fail(f"door file due {f['due']:.2f}: job rows wrong or batch unknown")
                continue
            bid = rows[ids[0]][0]["batch_id"]
            res.latencies_s.append(end_of[bid] - f["due"])
            res.items += len(ids)
        self.lateness_max_s = max(lateness)
        self.backlog = backlog
        if self.lateness_max_s > self.MAX_LATE_S or backlog > self.MAX_BACKLOG_FILES or not drained:
            res.fail(
                f"door run invalid: generator late {self.lateness_max_s * 1000:.0f} ms, "
                f"backlog {backlog} files at schedule end, drained={drained}"
            )
        if sched_end - start <= 0:
            res.fail("door schedule did not run")
        self.progress = progress
        self.dead_letters = sum(
            1 for rs in rows.values() for r in rs if r["status"] == "Failed"
        )
        if jobs0 is not None:
            self.jobs_per_batch = (self.ctx.tracer.job_count() - jobs0) / max(1, len(progress))
        return res

    def trace_pass(self, res: Result) -> dict:
        r = self.measure(3.0)
        res.attempted += r.attempted
        res.failed += r.failed
        res.errors += r.errors
        out = {}
        for key in ("addBatch", "walCommit", "commitOffsets", "queryPlanning", "triggerExecution"):
            vals = [p["durationMs"].get(key, 0) for p in self.progress]
            out[f"streaming.{key}_ms"] = float(statistics.median(vals)) if vals else 0.0
        out["streaming.jobs_per_batch"] = float(self.jobs_per_batch)
        out["streaming.dead_letters"] = float(self.dead_letters)
        return out

    def close(self) -> None:
        if getattr(self, "query", None) is not None:
            stop_streaming_query(self.query, idle_timeout=10)
            self.query = None


WORKLOADS = {w.name: w for w in (BulkIngest, SearchServe, CurateDedup, StreamDoor)}
