"""Blocklist scanning — the C4/RefinedWeb 'banned words' filter at scale.

Web-corpus pipelines drop or flag documents containing terms from large
blocklists (C4 §2.2 removes any page with a word from a public bad-words
list; RefinedWeb and FineWeb keep variants of the rule). Matching
thousands of terms with per-term regexes is O(terms × text); the right
kernel is Aho-Corasick — ONE automaton pass over each document finds
every occurrence of every term, O(text + matches) regardless of
blocklist size.

Spark shape: the term list is a bounded driver-side parameter
(``collect_bounded``); only the plain term list ships in the task
closure, and each task builds the automaton once before streaming its
Arrow batches (building is O(total term chars) — microseconds next to a
task's I/O). Per-doc summaries come straight out of the scan, so nothing
explodes: the operator's output is one row per document whatever the hit
count.
"""

from __future__ import annotations

from collections import deque

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from frappe_data_pipelines_spark.operators import kernel


# Worker-side automaton memo: Spark reuses python workers across tasks and
# micro-batches (spark.python.worker.reuse, default on), so a streaming door
# scanning the SAME blocklist every batch should build the trie once per
# worker process, not once per batch. Keyed on an md5 digest of the terms
# (VERDICT r9: a full-term-tuple key held every term string twice per
# worker — key + machine); bounded to one entry (a second distinct
# blocklist evicts the first — the door use case has exactly one list,
# and batch operators tolerate a rebuild).
_AUTOMATON_MEMO: dict = {}


def _cached_automaton(term_key: tuple):
    import hashlib

    h = hashlib.md5()
    for tid, term in term_key:
        h.update(str(tid).encode())
        h.update(b"\x00")
        h.update(term.encode())
        h.update(b"\x01")
    digest = h.digest()
    m = _AUTOMATON_MEMO.get(digest)
    if m is None:
        m = _build_automaton(list(term_key))
        _AUTOMATON_MEMO.clear()
        _AUTOMATON_MEMO[digest] = m
    return m


def _build_automaton(terms: list[tuple[int, str]]):
    """Classic Aho-Corasick: goto trie, BFS fail links, output lists of
    (term_id, term_len) merged down the fail chain."""
    goto: list[dict] = [{}]
    fail = [0]
    out: list[list] = [[]]
    for tid, t in terms:
        s = 0
        for ch in t:
            nxt = goto[s].get(ch)
            if nxt is None:
                goto.append({})
                fail.append(0)
                out.append([])
                nxt = len(goto) - 1
                goto[s][ch] = nxt
            s = nxt
        out[s].append((tid, len(t)))
    q = deque()
    for s in goto[0].values():
        q.append(s)
    while q:
        r = q.popleft()
        for ch, s in goto[r].items():
            q.append(s)
            f = fail[r]
            while f and ch not in goto[f]:
                f = fail[f]
            cand = goto[f].get(ch, 0)
            fail[s] = cand if cand != s else 0
            out[s].extend(out[fail[s]])
    return goto, fail, out


def _scan(text: str, goto, fail, out):
    """Yield (term_id, start_1based, term_len) for every occurrence,
    overlapping and nested matches included."""
    s = 0
    for i, ch in enumerate(text):
        while s and ch not in goto[s]:
            s = fail[s]
        s = goto[s].get(ch, 0)
        if out[s]:
            for tid, ln in out[s]:
                yield tid, i - ln + 2, ln


def blocklist_hits(
    docs: DataFrame,
    terms: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    case_insensitive: bool = True,
    word_boundaries: bool = False,
    max_terms: int = 200_000,
) -> DataFrame:
    """Per-document blocklist accounting: (doc_id, n_hits, n_terms,
    first_pos) for EVERY doc — n_hits counts all (overlapping)
    occurrences of all terms, n_terms the distinct terms present,
    first_pos the 1-based position of the earliest hit (null when clean).

    ``terms``: (term_id, term), a bounded query parameter.
    ``word_boundaries``: count a hit only when not flanked by
    alphanumerics (the whole-word rule some lists require).
    ``case_insensitive`` folds via Python ``str.lower()`` — identical to
    SQL ``lower()`` on ASCII; locale-special codepoints (dotted-I, ß)
    can fold differently across engines, so keep blocklists
    pre-lowercased when exact cross-engine parity matters.

    Scale shape: one shuffle-free ``mapInPandas`` pass; the automaton is
    rebuilt per task from the broadcast term list, never pickled."""
    import pandas as pd

    from frappe_data_pipelines_spark.operators.guards import collect_bounded

    rows = collect_bounded(
        terms.select(
            F.col("term_id").cast("long").alias("term_id"),
            F.col("term").cast("string").alias("term"),
        ),
        max_terms,
        "blocklist terms",
    )
    if any(r["term"] is None or len(r["term"]) == 0 for r in rows):
        raise ValueError("blocklist_hits: empty/null term")
    term_list = [
        (r["term_id"], r["term"].lower() if case_insensitive else r["term"])
        for r in rows
    ]

    def run(batches):
        machine = _build_automaton(term_list)
        for pdf in batches:
            ids, hits, nterms, firsts = [], [], [], []
            for did, txt in zip(pdf["doc_id"], pdf["text"]):
                t = txt or ""
                if case_insensitive:
                    t = t.lower()
                n = 0
                seen = set()
                first = None
                for tid, pos, ln in _scan(t, *machine):
                    if word_boundaries:
                        before = t[pos - 2] if pos >= 2 else ""
                        after = t[pos + ln - 1] if pos + ln - 1 < len(t) else ""
                        if (before and before.isalnum()) or (
                            after and after.isalnum()
                        ):
                            continue
                    n += 1
                    seen.add(tid)
                    if first is None or pos < first:
                        first = pos
                ids.append(did)
                hits.append(n)
                nterms.append(len(seen))
                firsts.append(first)
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "n_hits": pd.array(hits, dtype="int64"),
                    "n_terms": pd.array(nterms, dtype="int64"),
                    "first_pos": pd.array(firsts, dtype="Int64"),
                }
            )

    from frappe_data_pipelines_spark.sources.tables import spread_scan

    narrow = spread_scan(
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    )
    return kernel.map_batches(
        narrow, run, "doc_id long, n_hits long, n_terms long, first_pos long"
    )


def blocklist_annotate(
    docs: DataFrame,
    terms: DataFrame,
    text_col: str = "text",
    case_insensitive: bool = True,
    word_boundaries: bool = False,
    max_terms: int = 200_000,
    out_col: str = "n_blocklist_hits",
) -> DataFrame:
    """``docs`` with its FULL schema plus an ``out_col`` hit count — the
    join-free sibling of ``blocklist_hits``: the kernel echoes every input
    row (whatever its id situation — null ids and duplicate ids keep
    per-ROW accounting, which a keyed join back cannot give), appending
    one column. Shuffle-free; this is the primitive ``blocklist_filter``
    builds on."""
    return blocklist_annotate_prepared(
        docs,
        collect_blocklist_terms(terms, case_insensitive, max_terms),
        text_col=text_col,
        case_insensitive=case_insensitive,
        word_boundaries=word_boundaries,
        out_col=out_col,
    )


def collect_blocklist_terms(
    terms: DataFrame, case_insensitive: bool = True, max_terms: int = 200_000
) -> list[tuple[int, str]]:
    """Collect + validate a blocklist terms table into the bounded
    driver-side ``term_list`` the scan kernels close over. A streaming
    door calls this ONCE at stream start — collecting the (static) terms
    table inside every micro-batch was one Spark action per batch of pure
    fixed overhead (round-9 door-latency profile)."""
    from frappe_data_pipelines_spark.operators.guards import collect_bounded

    rows = collect_bounded(
        terms.select(
            F.col("term_id").cast("long").alias("term_id"),
            F.col("term").cast("string").alias("term"),
        ),
        max_terms,
        "blocklist terms",
    )
    if any(r["term"] is None or len(r["term"]) == 0 for r in rows):
        raise ValueError("blocklist terms: empty/null term")
    return [
        (r["term_id"], r["term"].lower() if case_insensitive else r["term"])
        for r in rows
    ]


def blocklist_annotate_prepared(
    docs: DataFrame,
    term_list: list[tuple[int, str]],
    text_col: str = "text",
    case_insensitive: bool = True,
    word_boundaries: bool = False,
    out_col: str = "n_blocklist_hits",
) -> DataFrame:
    """``blocklist_annotate`` over an already-collected ``term_list``
    (from ``collect_blocklist_terms``) — no per-call Spark action, and the
    worker-side automaton memo makes repeat scans of the same list (a
    streaming door, every micro-batch) skip the trie build."""
    import pandas as pd
    from pyspark.sql import types as T

    if out_col in docs.columns:
        raise ValueError(f"blocklist_annotate: column {out_col!r} already exists")
    term_key = tuple(term_list)

    def run(batches):
        machine = _cached_automaton(term_key)
        for pdf in batches:
            hits = []
            for txt in pdf[text_col]:
                t = txt or ""
                if case_insensitive:
                    t = t.lower()
                n = 0
                for tid, pos, ln in _scan(t, *machine):
                    if word_boundaries:
                        before = t[pos - 2] if pos >= 2 else ""
                        after = t[pos + ln - 1] if pos + ln - 1 < len(t) else ""
                        if (before and before.isalnum()) or (
                            after and after.isalnum()
                        ):
                            continue
                    n += 1
                hits.append(n)
            out = pdf.copy()
            out[out_col] = pd.array(hits, dtype="int64")
            yield out

    schema = T.StructType(docs.schema.fields + [T.StructField(out_col, T.LongType())])
    return kernel.map_batches(docs, run, schema)


def blocklist_filter(
    docs: DataFrame,
    terms: DataFrame,
    max_hits: int = 0,
    id_col: str = "doc_id",  # kept for API stability; unused (row-level now)
    text_col: str = "text",
    case_insensitive: bool = True,
    word_boundaries: bool = False,
) -> DataFrame:
    """The C4 drop rule: keep only documents with at most ``max_hits``
    blocklist occurrences (default 0 — any hit drops the page). Built on
    ``blocklist_annotate`` so the decision is per ROW — a null-id doc is
    judged on its own text (a keyed semi-join would silently drop it),
    and two rows sharing an id are judged independently (a semi-join
    would let a dirty row ride a clean sibling's key). ``docs`` passes
    through with its full schema; no shuffle."""
    return (
        blocklist_annotate(
            docs, terms, text_col, case_insensitive, word_boundaries
        )
        .filter(F.col("n_blocklist_hits") <= max_hits)
        .drop("n_blocklist_hits")
    )
