"""Chunking operators — the reference's signature transform (SURVEY §2.J).

Three strategies, re-implemented from scratch:

* ``recursive_character_split`` — exact re-implementation of the published
  LangChain ``RecursiveCharacterTextSplitter`` algorithm (greedy recursive
  split on a separator hierarchy with overlap-carrying merge). The reference
  uses it verbatim with separators ``["\\n\\n", "\\n", ". ", " ", ""]``,
  chunk_size 1000, overlap 200 (reference: services/chunking_service.py:127-163).
* ``SemanticChunker`` — header-driven sectioning with a stateful section-path
  stack, small-section merging toward a soft target, and paragraph-boundary
  splitting of oversized sections (reference: services/chunking_service.py:166-481).
* ``chunk_documents`` — the distributed operator: one Arrow-batched
  ``mapInPandas`` pass over the documents table. Chunking is per-document and
  embarrassingly parallel, so there is NO shuffle — each input partition chunks
  its own documents; at 100 TB this scales linearly with executors.
* ``chunk_embed_documents`` — the ingest form: the same pass also embeds each
  flush of chunk rows, so chunk → embed is ONE Python pass per plan and every
  chunk row crosses the JVM↔Python boundary once. Both operators run the one
  per-batch loop, ``_chunk_batches``.

Python is the right tool here (genuinely procedural, stateful-per-document
semantics that relational ops can't express); Arrow batching keeps the
transfer cost amortized.
"""

from __future__ import annotations

import re
from collections.abc import Iterator
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from frappe_data_pipelines_spark.operators import kernel
from frappe_data_pipelines_spark.operators.embed import _resolve_provider

DEFAULT_SEPARATORS = ["\n\n", "\n", ". ", " ", ""]
DEFAULT_CHUNK_SIZE = 1000
DEFAULT_CHUNK_OVERLAP = 200
SEMANTIC_TARGET = 2000
SEMANTIC_OVERLAP = 400


# ---------------------------------------------------------------------------
# Recursive character splitter (pure-python core)
# ---------------------------------------------------------------------------

def _split_with_separator(text: str, separator: str) -> list[str]:
    """Split keeping the separator attached to the start of the following
    piece (LangChain keep_separator=True semantics)."""
    if separator == "":
        return [c for c in text]
    parts = re.split(f"({re.escape(separator)})", text)
    splits = [parts[i] + parts[i + 1] for i in range(1, len(parts), 2)]
    if len(parts) % 2 == 0:
        splits += parts[-1:]
    splits = [parts[0]] + splits
    return [s for s in splits if s != ""]


def _join_docs(docs: list[str], separator: str) -> str | None:
    text = separator.join(docs).strip()
    return text if text else None


def _merge_splits(splits: list[str], separator: str, chunk_size: int, overlap: int) -> list[str]:
    """Greedy merge with overlap carry — the overlap window re-uses trailing
    splits of the previous chunk."""
    sep_len = len(separator)
    docs: list[str] = []
    current: list[str] = []
    total = 0
    for s in splits:
        n = len(s)
        if total + n + (sep_len if current else 0) > chunk_size:
            if current:
                doc = _join_docs(current, separator)
                if doc is not None:
                    docs.append(doc)
                while total > overlap or (
                    total + n + (sep_len if current else 0) > chunk_size and total > 0
                ):
                    total -= len(current[0]) + (sep_len if len(current) > 1 else 0)
                    current = current[1:]
        current.append(s)
        total += n + (sep_len if len(current) > 1 else 0)
    doc = _join_docs(current, separator)
    if doc is not None:
        docs.append(doc)
    return docs


def recursive_character_split(
    text: str,
    chunk_size: int = DEFAULT_CHUNK_SIZE,
    chunk_overlap: int = DEFAULT_CHUNK_OVERLAP,
    separators: list[str] | None = None,
) -> list[str]:
    """Exact recursive split: pick the first separator present in the text,
    split by it, recursively re-split any piece still over ``chunk_size`` with
    the remaining separators, and merge small pieces with overlap."""
    separators = separators if separators is not None else DEFAULT_SEPARATORS

    def _split(text: str, separators: list[str]) -> list[str]:
        final_chunks: list[str] = []
        separator = separators[-1]
        new_separators: list[str] = []
        for i, s in enumerate(separators):
            if s == "":
                separator = s
                break
            if re.search(re.escape(s), text):
                separator = s
                new_separators = separators[i + 1 :]
                break
        splits = _split_with_separator(text, separator)
        good: list[str] = []
        merge_sep = ""  # keep_separator=True → separators already inside splits
        for s in splits:
            if len(s) < chunk_size:
                good.append(s)
            else:
                if good:
                    final_chunks.extend(_merge_splits(good, merge_sep, chunk_size, chunk_overlap))
                    good = []
                if not new_separators:
                    final_chunks.append(s)
                else:
                    final_chunks.extend(_split(s, new_separators))
        if good:
            final_chunks.extend(_merge_splits(good, merge_sep, chunk_size, chunk_overlap))
        return final_chunks

    if not text or not text.strip():
        return []
    # exact published semantics: merge-path chunks are stripped inside
    # _join_docs (strip_whitespace=True) and empty ones dropped there; a
    # raw-appended oversized piece (reachable only when the separator
    # ladder lacks "") is returned UNstripped, as the library does
    return _split(text, separators)


# ---------------------------------------------------------------------------
# Semantic chunker (header detection + section paths)
# ---------------------------------------------------------------------------

_MD_HEADER = re.compile(r"^(#{1,6})\s+(.*)")
_NUM_HEADER = re.compile(r"^(\d+(?:\.\d+)*)\.?\s+(.+)")
_COLON_HEADER = re.compile(r"^([A-Za-z][A-Za-z0-9 ]{2,58}):\s*$")


def detect_header(line: str) -> tuple[int, str] | None:
    """Header heuristics (reference chunking_service.py:335-364): markdown
    ``#`` levels, numbered ``1.2.3`` headings (level = dot depth), short
    ALL-CAPS lines (title-cased), and colon-suffixed labels."""
    line = line.strip()
    if not line:
        return None
    m = _MD_HEADER.match(line)
    if m:
        return len(m.group(1)), m.group(2).strip()
    m = _NUM_HEADER.match(line)
    if m and len(m.group(2)) < 80:
        return m.group(1).count(".") + 1, m.group(2).strip()
    if 5 <= len(line) <= 60 and line.isupper():
        return 1, line.title()
    m = _COLON_HEADER.match(line)
    if m:
        return 2, m.group(1).strip()
    return None


@dataclass
class Section:
    path: str
    text: str


@dataclass
class SemanticChunker:
    """Sectionize → merge-small → split-big, with section paths.

    Per-document sequential scan (the header stack is order-dependent state),
    so the distributed form runs one document per group via the same
    ``mapInPandas`` pass as the recursive splitter.
    """

    target_size: int = SEMANTIC_TARGET
    overlap: int = SEMANTIC_OVERLAP

    def sectionize(self, text: str) -> list[Section]:
        stack: list[tuple[int, str]] = []
        sections: list[Section] = []
        buf: list[str] = []

        def flush() -> None:
            body = "\n".join(buf).strip()
            if body:
                path = " > ".join(t for _, t in stack) if stack else "Document"
                sections.append(Section(path, body))
            buf.clear()

        for line in text.split("\n"):
            hdr = detect_header(line)
            if hdr is not None:
                flush()
                level, title = hdr
                while stack and stack[-1][0] >= level:
                    stack.pop()
                stack.append((level, title))
            else:
                buf.append(line)
        flush()
        if not sections and text.strip():
            sections.append(Section("Document", text.strip()))
        return sections

    def merge_small(self, sections: list[Section]) -> list[Section]:
        """Accumulate consecutive sections while below target; the latest
        section's path wins for the merged chunk."""
        merged: list[Section] = []
        acc_text: list[str] = []
        acc_path = "Document"
        acc_len = 0
        for s in sections:
            acc_text.append(s.text)
            acc_path = s.path
            acc_len += len(s.text)
            if acc_len >= self.target_size:
                merged.append(Section(acc_path, "\n\n".join(acc_text)))
                acc_text, acc_len = [], 0
        if acc_text:
            merged.append(Section(acc_path, "\n\n".join(acc_text)))
        return merged

    def split_big(self, section: Section) -> list[Section]:
        """Greedy paragraph-boundary split: start a new chunk only once the
        current one has reached the target."""
        if len(section.text) <= self.target_size:
            return [section]
        paras = [p.strip() for p in re.split(r"\n\s*\n", section.text) if p.strip()]
        out: list[Section] = []
        cur: list[str] = []
        cur_len = 0
        for p in paras:
            if cur and cur_len >= self.target_size:
                out.append(Section(section.path, "\n\n".join(cur)))
                cur, cur_len = [], 0
            cur.append(p)
            cur_len += len(p)
        if cur:
            out.append(Section(section.path, "\n\n".join(cur)))
        # paragraph-free oversized text: fall back to the recursive splitter
        if len(out) == 1 and len(out[0].text) > self.target_size * 2:
            return [
                Section(section.path, c)
                for c in recursive_character_split(
                    section.text, self.target_size, self.overlap
                )
            ]
        return out

    def chunk(self, text: str) -> list[Section]:
        if not text or not text.strip():
            return []
        out: list[Section] = []
        for sec in self.merge_small(self.sectionize(text)):
            out.extend(self.split_big(sec))
        return out

    # -- docling-HybridChunker-faithful path (VERDICT r4 #8) ----------------

    PEER_DELIM = "\n"  # HybridChunker joins merged peers with "\n"

    def peer_items(self, text: str) -> list[Section]:
        """HierarchicalChunker analogue: one item per paragraph, carrying its
        section path as the headings metadata (the reference builds one
        PARAGRAPH doc item per '\\n\\n' block, chunking_service.py:57-63)."""
        items: list[Section] = []
        for sec in self.sectionize(text):
            for p in re.split(r"\n\s*\n", sec.text):
                p = p.strip()
                if p:
                    items.append(Section(sec.path, p))
        return items

    def merge_peers(self, items: list[Section]) -> list[Section]:
        """``HybridChunker(merge_peers=True)`` semantics: greedily merge
        CONSECUTIVE items with IDENTICAL headings metadata while the joined
        text still fits the budget; never merge across section paths, never
        exceed the budget by merging. (Docling merges on matching
        headings+captions up to max_tokens with a '\\n' delimiter; the
        budget here is characters, the same unit the rest of this chunker
        uses.)"""
        merged: list[Section] = []
        cur_path: str | None = None
        cur_parts: list[str] = []
        cur_len = 0
        for item in items:
            joined = cur_len + len(self.PEER_DELIM) + len(item.text)
            if cur_parts and item.path == cur_path and joined <= self.target_size:
                cur_parts.append(item.text)
                cur_len = joined
            else:
                if cur_parts:
                    merged.append(Section(cur_path, self.PEER_DELIM.join(cur_parts)))
                cur_path, cur_parts, cur_len = item.path, [item.text], len(item.text)
        if cur_parts:
            merged.append(Section(cur_path, self.PEER_DELIM.join(cur_parts)))
        return merged

    def chunk_hybrid(self, text: str) -> list[Section]:
        """Full hybrid pipeline in docling's order (split oversize FIRST,
        then merge peers — split fragments are themselves peers and may
        merge with neighbors): items → token-budget split → merge_peers."""
        if not text or not text.strip():
            return []
        split_items: list[Section] = []
        for item in self.peer_items(text):
            if len(item.text) > self.target_size:
                split_items.extend(
                    Section(item.path, piece)
                    for piece in recursive_character_split(
                        item.text, self.target_size, self.overlap
                    )
                )
            else:
                split_items.append(item)
        return self.merge_peers(split_items)


# ---------------------------------------------------------------------------
# Distributed operator
# ---------------------------------------------------------------------------

CHUNK_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("chunk_index", T.IntegerType()),
        T.StructField("chunk_text", T.StringType()),
        T.StructField("character_count", T.IntegerType()),
        T.StructField("total_chunks", T.IntegerType()),
        T.StructField("section_path", T.StringType()),
    ]
)
CHUNK_COLUMNS = tuple(f.name for f in CHUNK_SCHEMA.fields)
ARROW_BATCH_CONF = "spark.sql.execution.arrow.maxRecordsPerBatch"


def _chunk_batches(
    batches: Iterator,
    strategy: str = "recursive",
    chunk_size: int = DEFAULT_CHUNK_SIZE,
    chunk_overlap: int = DEFAULT_CHUNK_OVERLAP,
    max_rows: int | None = None,
) -> Iterator[dict[str, list]]:
    """The per-batch chunk loop behind every chunking pass: pandas frames of
    (doc_id, text) in, column dicts of chunk rows (``CHUNK_COLUMNS``) out.

    ``max_rows=None`` yields one dict per input batch. ``max_rows=n`` instead
    yields every time n chunk rows have accumulated — mid-document if need
    be, so a long document never builds an unbounded batch — plus the
    remainder once the input is exhausted.
    """
    sem = SemanticChunker(target_size=chunk_size, overlap=chunk_overlap)

    def empty() -> dict[str, list]:
        return {k: [] for k in CHUNK_COLUMNS}

    rows = empty()
    for pdf in batches:
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            if text is None:
                continue
            if strategy == "semantic":
                secs = sem.chunk(text)
                chunks = [(s.text, s.path) for s in secs]
            elif strategy == "hybrid":
                # DoclingChunker analogue (chunking_service.py:23-124) in
                # HybridChunker's own order: per-paragraph peer items
                # (headings = section path) → budget split of oversize
                # items → merge_peers (same-path consecutive items merged
                # while they fit; '\n' delimiter; never across sections)
                chunks = [(s.text, s.path) for s in sem.chunk_hybrid(text)]
            else:
                chunks = [
                    (c, "Document")
                    for c in recursive_character_split(text, chunk_size, chunk_overlap)
                ]
            total = len(chunks)
            for i, (ctext, path) in enumerate(chunks):
                rows["doc_id"].append(doc_id)
                rows["chunk_index"].append(i)
                rows["chunk_text"].append(ctext)
                rows["character_count"].append(len(ctext))
                rows["total_chunks"].append(total)
                rows["section_path"].append(path)
                if max_rows is not None and len(rows["doc_id"]) >= max_rows:
                    yield rows
                    rows = empty()
        if max_rows is None:
            yield rows
            rows = empty()
    if max_rows is not None and rows["doc_id"]:
        yield rows


def _chunk_input(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return docs.select(F.col(id_col).cast("long").alias("doc_id"), F.col(text_col).alias("text"))


def chunk_documents(
    docs: DataFrame,
    strategy: str = "recursive",
    chunk_size: int = DEFAULT_CHUNK_SIZE,
    chunk_overlap: int = DEFAULT_CHUNK_OVERLAP,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """documents(doc_id, text, ...) → chunks(doc_id, chunk_index, chunk_text,
    character_count, total_chunks, section_path).

    Shuffle-free ``mapInPandas``: chunk_index / total_chunks are computed
    inside the per-document loop (no window function needed — the per-doc
    enumeration IS the reference's ``enumerate(chunks)``, SURVEY E1).
    """

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for rows in _chunk_batches(batches, strategy, chunk_size, chunk_overlap):
            yield pd.DataFrame(rows)

    return kernel.map_batches(_chunk_input(docs, id_col, text_col), run, CHUNK_SCHEMA)


def chunk_embed_documents(
    docs: DataFrame,
    strategy: str = "recursive",
    chunk_size: int = DEFAULT_CHUNK_SIZE,
    chunk_overlap: int = DEFAULT_CHUNK_OVERLAP,
    provider=None,
) -> DataFrame:
    """``chunk_documents`` then ``embed_documents(text_col="chunk_text")`` as
    ONE ``mapInPandas`` pass over ``(doc_id, text)``: the chunk columns
    followed by ``embedding array<float>``, row for row what the
    two-operator plan gives, but every chunk row crosses the JVM↔Python
    boundary once instead of twice (SURVEY J6: the reference embeds each file's chunks right after
    chunking them, process_embedding.py:84-281).

    Memory stays bounded as in the two-operator plan, where Arrow batching
    capped each embed call at ``maxRecordsPerBatch`` chunk rows: that conf
    is read here, on the driver, and the kernel calls ``provider.embed``
    every time that many chunk rows have accumulated. ``provider`` follows
    ``embed_documents``: an instance (pickled) or a zero-arg factory
    (resolved once per executor process).
    """
    max_rows = int(docs.sparkSession.conf.get(ARROW_BATCH_CONF, "10000"))
    max_rows = max_rows if max_rows > 0 else None  # <= 0: Spark's "no limit"
    schema = T.StructType(
        CHUNK_SCHEMA.fields + [T.StructField("embedding", T.ArrayType(T.FloatType()))]
    )

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        prov = _resolve_provider(provider)
        for rows in _chunk_batches(batches, strategy, chunk_size, chunk_overlap, max_rows):
            texts = rows["chunk_text"]
            rows["embedding"] = prov.embed(texts) if texts else []
            yield pd.DataFrame(rows)

    return kernel.map_batches(_chunk_input(docs, "doc_id", "text"), run, schema)


def register_chunk_udtf(spark, name: str = "chunk_split") -> None:
    """Expose the recursive chunker to SQL as a Python UDTF (SURVEY §7:
    'every operator both callable from Python and exposed as SQL where
    sensible'):

        SELECT d.doc_id, c.* FROM documents d,
        LATERAL chunk_split(d.text, 200, 40) c

    Arrow-optimized; one UDTF eval per row, same splitter as
    chunk_documents."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_index int, chunk_text string, character_count int")
    class ChunkSplit:
        def eval(self, text: str, chunk_size: int = 1000, chunk_overlap: int = 200):
            if text is None:
                return
            for i, piece in enumerate(
                recursive_character_split(text, chunk_size, chunk_overlap)
            ):
                yield i, piece, len(piece)

    spark.udtf.register(name, ChunkSplit)
