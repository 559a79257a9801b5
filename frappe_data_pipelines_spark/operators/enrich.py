"""Contextual enrichment + routing operators (SURVEY §2.J J2/J5).

J2 — the reference calls an LLM per chunk to generate a ≤120-token situating
context, tolerating failures as empty contexts
(context_service.py:57-202, process_embedding.py:175-209). Here the provider
is pluggable: ``TemplateContextProvider`` is the deterministic default (no
network — the test/oracle path); an HTTP-backed provider implements the same
``contextualize(doc_text, chunks) -> list[str]`` contract inside the same
``mapInPandas`` stage, with per-row failure capture into the error column
(I3 dead-letter semantics, never a job abort).

J5 — the decision agent's metadata routing (decision_agent.py:92-299) as a
pure column expression producing the ProcessingPlan struct; the PDF-sampling
refinement would be a sniffing pandas UDF upstream (the sampled page stats
arrive as columns, exactly like the reference's ≤5-page aggregates).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from frappe_data_pipelines_spark.operators import kernel


class TemplateContextProvider:
    """Deterministic J2 substitute: context = positional template over the
    document metadata — reproducible across engines for oracle checks."""

    def contextualize(self, doc_ids, chunk_indexes, totals) -> list[str]:
        return [
            f"Chunk {i + 1} of {t} from document {d}."
            for d, i, t in zip(doc_ids, chunk_indexes, totals)
        ]


def attach_doc_text(
    chunks: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Join the full document text onto chunk rows as ``doc_text`` so a
    ``wants_document`` provider (e.g. ``HTTPContextualizer``) can fill the
    reference prompt's <document> slot with real content
    (context_service.py:26-44). A plain equi-join on doc_id — Catalyst
    broadcasts the doc side when it is small, and at 100 TB it is the same
    shuffle the chunker already paid, so co-partitioning on doc_id reuses
    the exchange. Drop ``doc_text`` after enrichment; it is prompt fuel,
    not a sink column."""
    return chunks.join(
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("doc_text")),
        "doc_id",
        "left",
    )


def enrich_chunks(chunks: DataFrame, provider=None) -> DataFrame:
    """Add context_prefix + embedded_text columns (H16 concat rule: prefix
    joined with a blank line only when non-empty).

    With the template provider the whole stage stays JVM-side (pure column
    exprs); an LLM provider swaps in a mapInPandas stage with identical
    output schema."""
    if provider is None or isinstance(provider, TemplateContextProvider):
        ctx = F.concat(
            F.lit("Chunk "),
            (F.col("chunk_index") + 1).cast("string"),
            F.lit(" of "),
            F.col("total_chunks").cast("string"),
            F.lit(" from document "),
            F.col("doc_id").cast("string"),
            F.lit("."),
        )
        out = chunks.withColumn("context_prefix", ctx).withColumn(
            "enrich_error", F.lit(None).cast("string")
        )
    elif hasattr(provider, "contextualize"):
        out = _enrich_with_provider(chunks, provider)
    else:
        raise TypeError("provider must expose contextualize(doc_ids, chunk_indexes, totals)")
    return out.withColumn(
        "embedded_text",
        F.when(
            F.length(F.coalesce("context_prefix", F.lit(""))) > 0,
            F.concat_ws("\n\n", F.col("context_prefix"), F.col("chunk_text")),
        ).otherwise(F.col("chunk_text")),
    )


def _enrich_with_provider(chunks: DataFrame, provider) -> DataFrame:
    """J2 with an arbitrary provider: Arrow-batched mapInPandas calling
    ``provider.contextualize`` per batch; ANY per-batch failure is retried
    row-at-a-time so only the genuinely failing rows dead-letter (I3: error
    column, never a job abort — reference process_embedding.py:175-209 treats
    enrichment failure as empty context + continue)."""
    from pyspark.sql import types as T

    in_schema = chunks.schema
    out_schema = T.StructType(
        list(in_schema.fields)
        + [
            T.StructField("context_prefix", T.StringType()),
            T.StructField("enrich_error", T.StringType()),
        ]
    )

    # providers that build prompts from real chunk content (reference
    # document+chunk template, context_service.py:26-44) declare
    # ``wants_text = True`` and receive the chunk texts as a 4th argument;
    # ``wants_document = True`` additionally receives the full document
    # texts (the reference prompt's <document> slot) as a 5th argument,
    # read from a ``doc_text`` column when the caller attached one
    wants_text = bool(getattr(provider, "wants_text", False))
    wants_document = bool(getattr(provider, "wants_document", False))

    def run(batches):
        import pandas as pd

        def call(ids, idxs, totals, texts, doc_texts):
            if wants_document:
                return provider.contextualize(ids, idxs, totals, texts, doc_texts)
            if wants_text:
                return provider.contextualize(ids, idxs, totals, texts)
            return provider.contextualize(ids, idxs, totals)

        for pdf in batches:
            ids = list(pdf["doc_id"])
            idxs = list(pdf["chunk_index"])
            totals = list(pdf["total_chunks"])
            texts = (
                list(pdf["chunk_text"]) if "chunk_text" in pdf.columns else [""] * len(ids)
            )
            doc_texts = (
                list(pdf["doc_text"]) if "doc_text" in pdf.columns else [None] * len(ids)
            )
            try:
                ctxs = call(ids, idxs, totals, texts, doc_texts)
                errs = [None] * len(ctxs)
            except Exception:  # noqa: BLE001 — isolate failing rows
                ctxs, errs = [], []
                for d, i, t, x, dx in zip(ids, idxs, totals, texts, doc_texts):
                    try:
                        ctxs.append(call([d], [i], [t], [x], [dx])[0])
                        errs.append(None)
                    except Exception as row_e:  # noqa: BLE001
                        ctxs.append("")  # reference: failure → empty context
                        errs.append(str(row_e)[:500])
            pdf = pdf.copy()
            pdf["context_prefix"] = pd.Series(ctxs, index=pdf.index, dtype=object)
            pdf["enrich_error"] = pd.Series(errs, index=pdf.index, dtype=object)
            yield pdf

    return kernel.map_batches(chunks, run, out_schema)


def processing_plan_expr(
    lang: Column, n_chars: Column, has_headers: Column | None = None
) -> Column:
    """J5 ProcessingPlan struct from metadata: strategy, OCR/vision flags,
    detected language, suggested chunk size (decision_agent.py:92-299,
    275-286). Pure when/otherwise — whole-stage codegen, no UDF."""
    strategy = (
        F.when(n_chars < 80, F.lit("visual"))       # tiny text → likely scanned (A11)
        .when(n_chars > 450, F.lit("structured"))   # long/tabular
        .otherwise(F.lit("text"))
    )
    suggested = (
        F.when(strategy == "visual", 1200)
        .when(strategy == "structured", 800)
        .otherwise(1000)
    )
    return F.struct(
        strategy.alias("strategy"),
        (strategy == "visual").alias("requires_ocr"),
        (strategy == "visual").alias("requires_vision"),
        lang.alias("detected_language"),
        suggested.cast("int").alias("suggested_chunk_size"),
        (has_headers if has_headers is not None else F.lit(False)).alias("has_structure"),
    )


def order_for_prompt_cache(chunks: DataFrame, doc_col: str = "doc_id",
                           order_col: str = "chunk_index") -> DataFrame:
    """O7 prompt-cache locality (reference claims ~90% savings from caching
    the shared document prefix across a doc's chunk-context calls,
    context_service.py:1-11): repartition by document and sort within each
    partition by (doc, chunk_index), so an LLM-backed mapInPandas stage sees
    one document's chunks consecutively in one task — every call after the
    first hits the provider's prompt cache. Pure layout change: same rows,
    one hash shuffle, no global sort."""
    return chunks.repartition(doc_col).sortWithinPartitions(doc_col, order_col)
