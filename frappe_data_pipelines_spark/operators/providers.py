"""HTTP-backed embedding provider with retry / rate-limit / dead-letter
(SURVEY §2.J J1 depth; reference: services/embedding_service.py:72-313,
tasks/process_embedding.py:60-90, 351-371).

The reference runs a driver-side loop: batches of 50 → ``provider.embed`` →
on exception mark the job Failed with ``error_message = str(e)[:500]`` and
bump ``retry_count`` (the B4 retry sweep re-enqueues it later). Here the
same semantics run *inside the executors*:

- ``HTTPEmbedder`` is the provider: request batching, token-bucket rate
  limiting and exponential-backoff retries happen per executor process, so
  a 1000-executor cluster self-throttles against the endpoint without any
  driver coordination. The HTTP transport is injectable — tests (and
  air-gapped runs) plug in a deterministic substitute; production plugs in
  the real endpoint. Only the transport touches the network.
- ``embed_with_dead_letter`` is the operator: ``mapInPandas`` that appends
  ``embedding`` + ``embed_error`` columns. A batch that still fails after
  the retry budget dead-letters its rows (null embedding, truncated error
  message — the reference's Failed-job record, row-grained) instead of
  failing the Spark task: one poisoned document cannot kill a 100 TB job.
- ``split_dead_letters`` separates successes from the retry queue — the
  Spark analogue of the B4 sweep's ``status = 'Failed' AND retry_count <
  max_retries`` scan.

Scale notes: the operator is a narrow transformation (no shuffle); memory
is bounded by the Arrow batch size; rate limiting is per-process token
bucket, so cluster-wide QPS = rate × executors — size accordingly.
"""

from __future__ import annotations

import json
import time
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from frappe_data_pipelines_spark.operators import kernel

ERROR_MESSAGE_MAX = 500  # reference truncation: process_embedding.py:71


class ProviderError(Exception):
    """Embedding call failed. ``retryable`` mirrors HTTP semantics:
    429/5xx/timeouts are transient, 4xx are permanent."""

    def __init__(self, message: str, retryable: bool = True):
        super().__init__(message)
        self.retryable = retryable


@dataclass(frozen=True)
class RetryPolicy:
    """Exponential backoff: base, base*mult, base*mult², … capped at max.

    ``max_attempts`` counts calls, not retries (4 attempts = 3 retries) —
    same accounting as the reference's ``retry_count < max_retries`` guard
    (doctype/ingest_job, B4 sweep).
    """

    max_attempts: int = 4
    base_delay: float = 0.5
    multiplier: float = 2.0
    max_delay: float = 8.0

    def delays(self) -> Iterator[float]:
        d = self.base_delay
        for _ in range(self.max_attempts - 1):
            yield min(d, self.max_delay)
            d *= self.multiplier


@dataclass
class TokenBucket:
    """Per-process token bucket: ``rate`` requests/sec, burst ``capacity``.

    Executor-local by design — no cluster coordination. With R executors the
    aggregate ceiling is R×rate; callers size ``rate`` for the endpoint's
    quota divided by expected executor count.
    """

    rate: float
    capacity: float = 0.0
    clock: Callable[[], float] = time.monotonic
    sleeper: Callable[[float], None] = time.sleep
    _tokens: float = field(init=False, default=0.0)
    _last: float = field(init=False, default=-1.0)

    def __post_init__(self):
        if self.capacity <= 0:
            self.capacity = max(1.0, self.rate)
        self._tokens = self.capacity

    def acquire(self) -> None:
        now = self.clock()
        if self._last >= 0:
            self._tokens = min(self.capacity, self._tokens + (now - self._last) * self.rate)
        self._last = now
        if self._tokens < 1.0:
            wait = (1.0 - self._tokens) / self.rate
            self.sleeper(wait)
            self._last = self.clock()
            self._tokens = min(self.capacity, self._tokens + wait * self.rate)
        self._tokens -= 1.0


def _default_transport(url: str, payload: dict, timeout: float, headers: dict) -> dict:
    """urllib POST JSON → JSON. Raises ProviderError with HTTP-derived
    retryability. Kept tiny so tests swap it wholesale."""
    import urllib.error
    import urllib.request

    req = urllib.request.Request(
        url,
        data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json", **headers},
        method="POST",
    )
    try:
        with urllib.request.urlopen(req, timeout=timeout) as resp:
            return json.loads(resp.read().decode())
    except urllib.error.HTTPError as e:  # pragma: no cover - needs network
        raise ProviderError(f"HTTP {e.code}: {e.reason}", retryable=e.code == 429 or e.code >= 500)
    except (urllib.error.URLError, TimeoutError, OSError) as e:  # pragma: no cover
        raise ProviderError(str(e), retryable=True)


@dataclass
class HTTPEmbedder:
    """Batched, rate-limited, retrying embedding provider.

    Same ``embed(texts) -> list[list[float]]`` contract as the reference's
    OllamaProvider/OpenRouterProvider (embedding_service.py:72-180) and the
    local ``HashingEmbedder``; response shape follows the Ollama embed API
    (``{"embeddings": [[...], ...]}``).

    ``transport(payload) -> response_dict`` is the seam: production binds
    the URL via ``make_transport``; tests pass a scripted fake. ``sleeper``
    is injectable so retry tests assert backoff without wall-clock waits.
    """

    dim: int
    model: str = "embed-model"
    batch_size: int = 50  # reference batch loop: process_embedding.py:356
    transport: Callable[[dict], dict] | None = None
    retry: RetryPolicy = field(default_factory=RetryPolicy)
    rate_limit_per_sec: float | None = None
    sleeper: Callable[[float], None] = time.sleep
    _bucket: TokenBucket | None = field(init=False, default=None)

    def __post_init__(self):
        if self.rate_limit_per_sec:
            self._bucket = TokenBucket(self.rate_limit_per_sec, sleeper=self.sleeper)
        if self.transport is None:
            raise ValueError("HTTPEmbedder needs a transport; use make_transport(url) for real HTTP")

    def get_dimension(self) -> int:
        return self.dim

    def _call_once(self, batch: list[str]) -> list[list[float]]:
        if self._bucket is not None:
            self._bucket.acquire()
        resp = self.transport({"model": self.model, "input": batch})
        embs = resp.get("embeddings")
        if not isinstance(embs, list) or len(embs) != len(batch):
            raise ProviderError(
                f"malformed response: expected {len(batch)} embeddings", retryable=False
            )
        return embs

    def _call_with_retry(self, batch: list[str]) -> list[list[float]]:
        return _call_with_retry(lambda: self._call_once(batch), self.retry, self.sleeper)

    def embed(self, texts: list[str]) -> list[list[float]]:
        out: list[list[float]] = []
        for i in range(0, len(texts), self.batch_size):
            out.extend(self._call_with_retry(texts[i : i + self.batch_size]))
        return out


def _call_with_retry(call, retry: RetryPolicy, sleeper):
    """Shared retry loop: exponential backoff on retryable ProviderErrors,
    terminal 'retries exhausted' once the budget is spent."""
    delays = retry.delays()
    while True:
        try:
            return call()
        except ProviderError as e:
            if not e.retryable:
                raise
            try:
                sleeper(next(delays))
            except StopIteration:
                raise ProviderError(
                    f"retries exhausted after {retry.max_attempts} attempts: {e}",
                    retryable=False,
                ) from e


@dataclass
class HTTPChatClient:
    """Rate-limited, retrying client for an OpenAI-style chat-completions
    endpoint — the transport/retry core shared by the J2 contextualizer and
    the J3 vision captioner (reference request/response shape:
    fdp/services/context_service.py:167-196 and vision_service.py:133-177:
    ``{"model", "messages":[{"role":"user","content":...}], "max_tokens",
    "temperature"}`` → ``{"choices":[{"message":{"content": ...}}]}``).

    Same injectable-transport / injectable-sleeper seams as ``HTTPEmbedder``
    so air-gapped tests script the endpoint and retry tests assert backoff
    without wall-clock waits."""

    model: str = "chat-model"
    transport: Callable[[dict], dict] | None = None
    retry: RetryPolicy = field(default_factory=RetryPolicy)
    rate_limit_per_sec: float | None = None
    sleeper: Callable[[float], None] = time.sleep
    max_tokens: int = 120   # reference: context_service.py:186
    temperature: float = 0.1
    _bucket: TokenBucket | None = field(init=False, default=None)

    def __post_init__(self):
        if self.rate_limit_per_sec:
            self._bucket = TokenBucket(self.rate_limit_per_sec, sleeper=self.sleeper)
        if self.transport is None:
            raise ValueError(
                f"{type(self).__name__} needs a transport; use make_transport(url) for real HTTP"
            )

    def _complete_once(self, content) -> str:
        if self._bucket is not None:
            self._bucket.acquire()
        resp = self.transport({
            "model": self.model,
            "messages": [{"role": "user", "content": content}],
            "max_tokens": self.max_tokens,
            "temperature": self.temperature,
        })
        choices = resp.get("choices")
        if not isinstance(choices, list) or not choices:
            raise ProviderError("malformed response: no choices", retryable=False)
        msg = (choices[0] or {}).get("message") or {}
        text = msg.get("content")
        if not isinstance(text, str):
            raise ProviderError("malformed response: no message content", retryable=False)
        return text.strip()

    def complete(self, content) -> str:
        return _call_with_retry(lambda: self._complete_once(content), self.retry, self.sleeper)


@dataclass
class HTTPCaptioner(HTTPChatClient):
    """J3 vision provider (closes the round-5 partial): image bytes →
    base64 data-URL → multimodal chat message, per the reference's request
    shape (vision_service.py:108-131: ``data:{mime};base64,{b64}`` inside an
    ``image_url`` content part, followed by the text prompt; max_tokens=150,
    temperature=0.1 at :164-166)."""

    # The reference ships two prompt revisions: the checked-in source's
    # "Extract the content from this image for search indexing" (50-100
    # words, vision_service.py:34-41) and a newer CONTEXT/CONTENT/CONTEXT
    # structure visible only in its compiled vision_service.cpython-314.pyc
    # ("Analyze this image for search retrieval ... 100-150 words"). The
    # default mirrors the source revision; callers targeting the newer
    # deployment pass the structured prompt explicitly.
    prompt: str = (
        "Extract the content from this image for search indexing.\n\n"
        "Output format (50-100 words max):\n"
        "[1-2 sentence context about what this image is]\n\n"
        "[Exact text/content visible in the image]\n\n"
        "Do NOT explain, analyze, or add commentary. Just state what type "
        "of image it is, then transcribe/describe what's actually shown."
    )
    max_tokens: int = 150   # reference: vision_service.py:164

    def describe(self, payloads: list[bytes], mimes: list[str] | None = None) -> list[str]:
        import base64

        mimes = mimes or ["image/png"] * len(payloads)
        out = []
        for payload, mime in zip(payloads, mimes):
            b64 = base64.b64encode(payload or b"").decode("ascii")
            data_url = f"data:{mime or 'image/png'};base64,{b64}"
            content = [
                {"type": "image_url", "image_url": {"url": data_url}},
                {"type": "text", "text": self.prompt},
            ]
            out.append(self.complete(content))
        return out


@dataclass
class HTTPContextualizer(HTTPChatClient):
    """J2 context provider (closes the round-5 partial): one chat call per
    chunk producing a <=120-token situating context
    (context_service.py:145-196). Implements the ``contextualize`` contract
    of ``operators/enrich.py``; ``wants_text = True`` asks the enrich stage
    to pass chunk texts and ``wants_document = True`` asks it to pass the
    full document text, so the prompt carries real content in BOTH slots of
    the reference's document+chunk template (context_service.py:26-44). When
    the enrich stage has no document column to offer, the <document> slot
    degrades to the doc-id placeholder rather than failing."""

    wants_text = True
    wants_document = True
    template: str = (
        "<document>\n{document}\n</document>\n\n"
        "<chunk>\nchunk {i} of {n}:\n{chunk}\n</chunk>\n\n"
        "Situate the chunk within the overall document in two or three "
        "sentences so a search index can retrieve it out of context: name "
        "the document's subject, say what part of it this chunk covers, and "
        "mention any entities or totals the chunk refers to that are only "
        "defined elsewhere in the document. Reply with the situating "
        "context only — no preamble, no quotes, no restatement of the "
        "chunk itself."
    )

    def contextualize(
        self, doc_ids, chunk_indexes, totals, texts=None, doc_texts=None
    ) -> list[str]:
        texts = texts if texts is not None else [""] * len(doc_ids)
        if doc_texts is None:
            doc_texts = [None] * len(doc_ids)
        return [
            self.complete(
                self.template.format(
                    document=(dt if dt else f"document {d} (text unavailable)"),
                    i=int(i) + 1,
                    n=int(n),
                    chunk=t or "",
                )
            )
            for d, i, n, t, dt in zip(doc_ids, chunk_indexes, totals, texts, doc_texts)
        ]


@dataclass
class HTTPReranker:
    """J4 rerank provider over HTTP — the Cohere-shaped API the reference
    uses (search_service.py:238-316, CohereReranker: request carries
    ``{"model", "query", "documents", "top_n"}``, response carries
    ``{"results": [{"index", "relevance_score"}, ...]}`` ordered by
    relevance; the caller reorders its own rows by those scores).

    Implements the ``rerank(query, texts) -> scores`` contract of
    ``operators/search.rerank_with_provider``, which already owns the
    reference's failure semantics (fall back to incoming vector order on
    ANY provider failure — reranking is an enhancement, never a point of
    failure). ``top_n`` is sent as ``len(documents)`` so every candidate
    gets a score and the cut stays with the caller, mirroring how the
    reference maps ``item.index`` back onto its own result list.

    Same injectable transport / retry / token-bucket seams as the other
    three HTTP providers (J1 HTTPEmbedder, J2 HTTPContextualizer, J3
    HTTPCaptioner) — J4 was the one provider without a real transport."""

    model: str = "rerank-english-v3.0"  # reference default: search_service.py:281
    transport: Callable[[dict], dict] | None = None
    retry: RetryPolicy = field(default_factory=RetryPolicy)
    rate_limit_per_sec: float | None = None
    sleeper: Callable[[float], None] = time.sleep
    _bucket: TokenBucket | None = field(init=False, default=None)

    def __post_init__(self):
        if self.rate_limit_per_sec:
            self._bucket = TokenBucket(self.rate_limit_per_sec, sleeper=self.sleeper)
        if self.transport is None:
            raise ValueError(
                "HTTPReranker needs a transport; use make_transport(url) for real HTTP"
            )

    def _rerank_once(self, query: str, texts: list[str]) -> list[float]:
        if self._bucket is not None:
            self._bucket.acquire()
        resp = self.transport({
            "model": self.model,
            "query": query,
            "documents": list(texts),
            "top_n": len(texts),
        })
        results = resp.get("results")
        if not isinstance(results, list):
            raise ProviderError("malformed response: no results list", retryable=False)
        scores: list[float | None] = [None] * len(texts)
        for item in results:
            try:
                idx = int(item["index"])
                score = float(item["relevance_score"])
            except (KeyError, TypeError, ValueError):
                raise ProviderError(
                    "malformed response: result without index/relevance_score",
                    retryable=False,
                )
            if not 0 <= idx < len(texts):
                raise ProviderError(
                    f"malformed response: index {idx} out of range", retryable=False
                )
            if scores[idx] is not None:
                # a repeat would silently overwrite the earlier score while
                # still "covering" every slot — treat like the other
                # malformed-response shapes instead
                raise ProviderError(
                    f"malformed response: duplicate index {idx} in rerank response",
                    retryable=False,
                )
            scores[idx] = score
        if any(s is None for s in scores):
            raise ProviderError(
                f"malformed response: expected {len(texts)} scored documents, "
                f"got {sum(s is not None for s in scores)}",
                retryable=False,
            )
        return scores  # type: ignore[return-value]

    def rerank(self, query: str, texts: list[str]) -> list[float]:
        if not texts:
            return []
        return _call_with_retry(
            lambda: self._rerank_once(query, texts), self.retry, self.sleeper
        )


def caption_with_dead_letter(
    df: DataFrame,
    bin_col: str = "content",
    mime_col: str = "mime",
    provider_factory: Callable[[], object] | None = None,
    out_col: str = "caption",
    error_col: str = "caption_error",
) -> DataFrame:
    """J3 with I3 semantics: ``mapInPandas`` appending ``caption`` +
    ``caption_error``. Row-grained: a poisoned image dead-letters its row
    with the truncated error message (the reference's Failed-job record);
    everything else captions. Narrow op, no shuffle; the provider is built
    per executor process via ``provider_factory`` (lazy-singleton, same as
    ``embed_with_dead_letter``)."""
    if provider_factory is None:
        raise ValueError("caption_with_dead_letter needs a provider_factory")
    schema = T.StructType(
        df.schema.fields
        + [
            T.StructField(out_col, T.StringType()),
            T.StructField(error_col, T.StringType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prov = provider_factory()
        for pdf in batches:
            caps: list = [None] * len(pdf)
            errs: list = [None] * len(pdf)
            payloads = pdf[bin_col]
            mimes = pdf[mime_col] if mime_col in pdf.columns else [None] * len(pdf)
            for k, (payload, mime) in enumerate(zip(payloads, mimes)):
                try:
                    caps[k] = prov.describe(
                        [bytes(payload) if payload is not None else b""], [mime]
                    )[0]
                except Exception as e:  # noqa: BLE001 — dead-letter, never abort
                    errs[k] = str(e)[:ERROR_MESSAGE_MAX]
            out = pdf.copy()
            out[out_col] = caps
            out[error_col] = errs
            yield out

    return kernel.map_batches(df, run, schema)


def make_transport(url: str, timeout: float = 60.0, headers: dict | None = None):
    """Bind the default urllib transport to an endpoint (reference timeout:
    embedding_service.py:108)."""

    def transport(payload: dict) -> dict:
        return _default_transport(url, payload, timeout, headers or {})

    return transport


def embed_with_dead_letter(
    df: DataFrame,
    text_col: str = "chunk_text",
    provider_factory: Callable[[], object] | None = None,
    out_col: str = "embedding",
    error_col: str = "embed_error",
    sub_batch: int | None = None,
) -> DataFrame:
    """Embed with row-grained failure capture instead of task failure.

    ``mapInPandas``: each Arrow batch is split into provider-sized
    sub-batches; a sub-batch that exhausts retries (or hits a permanent
    error) yields its rows with ``embedding = null`` and ``embed_error`` set
    — everything else proceeds. Narrow op, no shuffle; one bad row costs its
    sub-batch one error message, not a task retry storm.

    ``provider_factory`` is a zero-arg picklable callable built **on each
    executor** (lazy-singleton pattern, see embed.py) so HTTP sessions and
    buckets are per-process, never serialized from the driver.
    """
    from frappe_data_pipelines_spark.operators.embed import HashingEmbedder

    factory = provider_factory or HashingEmbedder
    schema = T.StructType(
        df.schema.fields
        + [
            T.StructField(out_col, T.ArrayType(T.FloatType())),
            T.StructField(error_col, T.StringType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prov = factory()
        size = sub_batch or getattr(prov, "batch_size", 50)
        for pdf in batches:
            texts = pdf[text_col].fillna("").tolist()
            embs: list = [None] * len(texts)
            errs: list = [None] * len(texts)
            for i in range(0, len(texts), size):
                chunk = texts[i : i + size]
                try:
                    for j, v in enumerate(prov.embed(chunk)):
                        embs[i + j] = v
                except Exception as e:
                    msg = str(e)[:ERROR_MESSAGE_MAX]  # process_embedding.py:71
                    for j in range(len(chunk)):
                        errs[i + j] = msg
            out = pdf.copy()
            out[out_col] = embs
            out[error_col] = errs
            yield out

    return kernel.map_batches(df, run, schema)


def split_dead_letters(df: DataFrame, error_col: str = "embed_error"):
    """(ok, dead) pair — the B4 retry sweep's input queue, as DataFrames."""
    return df.filter(F.col(error_col).isNull()), df.filter(F.col(error_col).isNotNull())
