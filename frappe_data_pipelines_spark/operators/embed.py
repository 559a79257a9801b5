"""Embedding providers (SURVEY §2.J J1).

The reference exposes a pluggable ``EmbeddingProvider.embed(texts) ->
List[List[float]]`` with Ollama / OpenRouter / auto-detected-dimension
implementations (reference: services/embedding_service.py:72-313). Here the
provider contract is the same; each executor embeds its own partition's texts
in Arrow-sized batches — the distributed analogue of the reference's
50-per-batch HTTP loop. Two operators call a provider:

* ``chunker.chunk_embed_documents`` — the ingest path: chunking and embedding
  in one ``mapInPandas`` pass, so chunk rows cross into Python once;
* ``embed_documents`` — a pandas UDF appending the embedding of any string
  column (e.g. contextually enriched text, not the raw chunk).

Both resolve the provider through ``_resolve_provider``.

``HashingEmbedder`` is the deterministic default (feature-hashing into a
fixed dim, L2-normalized): no network, reproducible across runs/machines, so
correctness tests and the DuckDB oracle can rely on it. HTTP-backed providers
implement the same interface and are gated behind import-tries; they are
plumbing-compatible but not exercised in CI.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_DIM = 64


@dataclass
class HashingEmbedder:
    """Deterministic feature-hashing embedder.

    token → md5 → (bucket, sign); vector = L2-normalized signed counts.
    Stable across Python processes (md5, not ``hash()``).
    """

    dim: int = DEFAULT_DIM

    def get_dimension(self) -> int:
        return self.dim

    def embed(self, texts: list[str]) -> list[list[float]]:
        out = []
        for t in texts:
            v = np.zeros(self.dim, dtype=np.float64)
            for tok in (t or "").lower().split():
                h = int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "big")
                v[h % self.dim] += 1.0 if (h >> 63) & 1 == 0 else -1.0
            n = float(np.linalg.norm(v))
            if n > 0:
                v /= n
            out.append(v.astype(np.float32).tolist())
        return out


# per-executor-process provider cache (O6 lazy singletons: the model loads on
# first batch on each executor, never on the driver — the pattern the
# reference uses for PaddleOCR/Qdrant clients, services/ocr_service.py:56-79)
_PROVIDER_CACHE: dict = {}


def _resolve_provider(provider):
    if provider is None:
        return HashingEmbedder()
    if hasattr(provider, "embed") and not isinstance(provider, type):
        return provider  # instance: pickled to executors (fine when stateless)
    key = (getattr(provider, "__module__", ""), getattr(provider, "__qualname__", repr(provider)))
    if key not in _PROVIDER_CACHE:
        _PROVIDER_CACHE[key] = provider()
    return _PROVIDER_CACHE[key]


def make_embed_udf(provider=None) -> Column:
    """Factory: returns a pandas UDF column fn embedding a string column.

    ``provider`` is either an embedder instance (shipped pickled — right for
    stateless embedders like the hashing default) or a zero-arg factory
    callable, resolved lazily once per executor process — the right shape
    for model-backed providers whose weights must never load on the driver
    or be pickled."""

    @F.pandas_udf(T.ArrayType(T.FloatType()))
    def embed_udf(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        prov = _resolve_provider(provider)
        for s in it:
            yield pd.Series(prov.embed(s.fillna("").tolist()))

    return embed_udf


def embed_documents(
    df: DataFrame, text_col: str = "chunk_text", out_col: str = "embedding", provider=None
) -> DataFrame:
    """Append an embedding column. Narrow transformation — no shuffle; Arrow
    batch size bounds per-call memory (the scale analogue of the reference's
    batch-of-50 loop, tasks/process_embedding.py:356-370)."""
    return df.withColumn(out_col, make_embed_udf(provider)(F.col(text_col)))
