"""Persisted suffix-rank index: build once, query many (VERDICT r10 task 2).

``operators/suffix.py`` answers every pattern query by building prefix-
doubling rank levels over corpus + patterns-as-pseudo-docs per call — the
right shape for one-shot analytics, but the suite's #1 cost when the same
corpus is probed repeatedly (∞-gram inference pays the full O(log n)-round
construction per prompt). An infini-gram service (Liu et al. 2024) builds
its suffix array ONCE and serves queries from it; this module is that
split, mirroring the engine's other persisted indexes
(``operators/ann.py:ivf_write/ivf_read/pq_write``).

What persists (per power-of-two width h up to ``max_width``; format 6):

- ``pairdicts/w=<h>`` — the DENSE-RANK DICTIONARY per doubling round
  (r1, r2 → rank), the doubling step's (rank, rank-at-pos+h) re-rank
  mapping, widths 2..max_width.
- ``skeys/w=<h>``     — the STRING-keyed dictionary (k: h-char substring
  → rank), derived incrementally from dict/skey pairs at build time;
  w=1 is the char/token dictionary itself. This is what resolves an
  unseen pattern's piece ranks in ONE broadcast lookup instead of a
  per-width doubling chain.
- ``wide``            — (doc_key, pos, r_1, r_2, ... r_maxw, doc_len):
  every width's rank CO-LOCATED per position, repartitioned by doc_key
  and sorted by (doc_key, pos). The serving table AND the summary/oracle
  base. (Format 4 additionally persisted a full (doc_key, pos, rank)
  ``level_<h>`` table per round; format 5 accumulates the rank columns
  through the doubling rounds and writes the position table exactly
  once — r12, guide §2.4/§6. Format 6 batches ALL dictionary commits
  into the two partitionBy("w") writes above — per-round lineage
  truncation moves to eager localCheckpoints, and a build whose budget
  is scheduler floor pays 2 write jobs instead of 7 writes + 7
  schema-inference read-backs — r13, VERDICT r12 task 6. Format-5
  directories remain readable: the readers branch on ``meta.format``.)

Serving shape (this matters more than asymptotics on a real scheduler):
a query = (1) enumerate the pattern's binary-decomposition pieces
driver-side (≤ log2 L literal substrings), resolve all their ranks with
ONE scan of the unioned skey tables; (2) ONE map-only kernel pass over
``wide`` — per doc, vectorized shifted-array equality against the piece
ranks finds every occurrence, and the next char is recovered as the
width-1 rank at pos+len (rank ↔ char is bijective; missing row = the
end-of-document event), so there is NO corpus join, NO per-width
refinement join, and NO window shuffle; (3) a tiny aggregation. The
first two cuts of this path (pair-dict doubling chains; broadcast-join
refinement) were measured at 26 and 15 Spark jobs per query — scheduler
floor, not data — against 3-4 for the kernel scan.

Scale shape: build cost is the bounded construction (O(log max_width)
global re-rank rounds) + the wide-table join — paid once. Query cost is
one embarrassingly parallel columnar scan of ``wide`` (no shuffle; the
aggregation state is bounded by matches × alphabet) + one skey scan. A
true suffix-array SERVICE answers in O(log n) random accesses; Spark has
no random access, so one partition-pruned-able columnar scan per query
batch is the honest optimum — and it serves any number of patterns in
the same pass. Staleness is the caller's contract, exactly like
``ivf_append``'s drift guard and any materialized view: rebuild when the
corpus changes (``_index_meta.json`` records n_docs + total_chars so
``read_or_build(verify=True)`` can check cheaply).

Patterns up to ``2 * max_width - 1`` chars are servable (the binary
decomposition seeds at 2^floor(log2 L) ≤ max_width and refines with
strictly smaller distinct widths).

Round 12 additions: (a) a TOKEN-level twin (``build_token_suffix_index``
— the unit Lee et al. 2021 / infini-gram actually index) persisting the
identical layout over token positions, with skey keys joined by a
reserved separator and every serving path shared; (b) the wide table
stores each doc's length and the kernel CHECKS the docs-arrive-whole
invariant instead of assuming it; (c) ``*_local`` serving entrypoints
take driver-local pattern literals and skip the pattern-DataFrame
collect job (the serving budget is job count).
"""

from __future__ import annotations

import json
import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from frappe_data_pipelines_spark.operators import kernel

META_NAME = "_index_meta.json"


def build_suffix_index(
    docs: DataFrame,
    path: str,
    max_width: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    explain_dir: str | None = None,
) -> "SuffixIndex":
    """Construct and persist the rank dictionaries + wide serving table
    of ``docs`` up to ``max_width`` chars. Per-round lineage truncation
    is an eager localCheckpoint (dictionaries AND position table); all
    dictionaries commit in two batched partitionBy("w") writes and the
    position table is written once, at the end, as ``wide``. The
    directory is committed by temp-build-then-rename,
    so readers never see a half-written index; ``path`` must be
    driver-reachable local/NFS storage (same contract as ``ivf_write``'s
    sidecar)."""
    from frappe_data_pipelines_spark.operators.guards import collect_bounded
    from frappe_data_pipelines_spark.sources.tables import spread_scan

    spark = docs.sparkSession
    base = spread_scan(
        docs.select(
            F.col(id_col).cast("string").alias("doc_key"),
            F.col(text_col).alias("text"),
        )
    ).filter(F.length("text") > 0)

    (stats,) = collect_bounded(
        base.agg(
            F.max(F.length("text")).alias("m"),
            F.count("*").alias("n"),
            F.sum(F.length("text")).alias("c"),
        ),
        1,
        "build_suffix_index corpus probe",
    )
    max_len, n_docs, total_chars = stats["m"] or 0, stats["n"], stats["c"] or 0
    suf = base.select(
        "doc_key",
        F.explode(F.sequence(F.lit(1), F.length("text"))).alias("pos"),
        F.col("text"),
    ).select(
        "doc_key",
        F.col("pos").cast("long").alias("pos"),
        F.substring(F.col("text"), F.col("pos"), F.lit(1)).alias("k"),
    )
    return _build_index(
        spark, suf, path, max_width, max_len, n_docs, total_chars,
        kind="char-suffix-rank-index", sep="", explain_dir=explain_dir,
    )


TOKEN_SEP = "\x1f"  # unit separator: joins token pieces into skey keys


def build_token_suffix_index(
    docs: DataFrame,
    path: str,
    max_width: int = 8,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    explain_dir: str | None = None,
) -> "SuffixIndex":
    """TOKEN-level twin of ``build_suffix_index`` (VERDICT r11 task 2 —
    the unit Lee et al. 2021 / infini-gram actually index): identical
    persisted layout over TOKEN positions, with width-1 keys the tokens
    themselves and skey keys the ``TOKEN_SEP``-joined token sequences
    (the separator keeps ("ab","c") distinct from ("a","bc"); build
    refuses tokens containing it — whitespace/regex tokenizers can't
    produce one). Every serving entrypoint (``indexed_pattern_counts``
    with array patterns via ``indexed_token_pattern_counts``, the kernel
    scan, continuations as next-TOKEN distributions) reuses the char
    machinery unchanged — only the key dtype differs, and only at build
    and piece-resolution time."""
    from frappe_data_pipelines_spark.operators.guards import collect_bounded
    from frappe_data_pipelines_spark.sources.tables import spread_scan

    spark = docs.sparkSession
    base = spread_scan(
        docs.select(
            F.col(id_col).cast("string").alias("doc_key"),
            F.col(tokens_col).alias("toks"),
        )
    ).filter(F.size("toks") > 0)

    (stats,) = collect_bounded(
        base.agg(
            F.max(F.size("toks")).alias("m"),
            F.count("*").alias("n"),
            F.sum(F.size("toks")).alias("c"),
            F.max(
                F.exists("toks", lambda t: t.contains(TOKEN_SEP))
            ).alias("bad"),
        ),
        1,
        "build_token_suffix_index corpus probe",
    )
    if stats["bad"]:
        raise ValueError(
            "build_token_suffix_index: a token contains the reserved "
            "separator \\x1f — skey keys would be ambiguous"
        )
    max_len, n_docs, total_toks = stats["m"] or 0, stats["n"], stats["c"] or 0
    suf = base.select(
        "doc_key",
        F.explode(F.sequence(F.lit(1), F.size("toks"))).alias("pos"),
        F.col("toks"),
    ).select(
        "doc_key",
        F.col("pos").cast("long").alias("pos"),
        F.expr("element_at(toks, cast(pos as int))").alias("k"),
    )
    return _build_index(
        spark, suf, path, max_width, max_len, n_docs, total_toks,
        kind="token-suffix-rank-index", sep=TOKEN_SEP, explain_dir=explain_dir,
    )


def _build_index(
    spark: SparkSession,
    suf: DataFrame,
    path: str,
    max_width: int,
    max_len: int,
    n_docs: int,
    total_units: int,
    kind: str,
    sep: str,
    explain_dir: str | None = None,
) -> "SuffixIndex":
    """Shared build core: ``suf`` is the width-1 keyed position table
    (doc_key, pos long, k string) — chars or tokens; everything after is
    dtype-blind (ranks only). ``sep`` joins piece keys at skey-derivation
    and pattern-resolution time ('' for chars = plain concatenation)."""
    from frappe_data_pipelines_spark.operators.suffix import _global_dense_rank

    if max_width < 1:
        raise ValueError("max_width must be >= 1")
    tmp = path.rstrip("/") + f".tmp-{os.getpid()}"
    import shutil

    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp, exist_ok=True)

    # ~24B/row uncompressed per (doc_key, pos, rank); 32 MB target per file
    n_files = int(total_units * 24 // (32 << 20)) + 1

    def _dump_plan(df: DataFrame, name: str) -> None:
        # the build runs eagerly inside this function, so a caller's
        # df.explain() only ever sees the post-build summary scan — the
        # REAL write-side plans are captured here, at the exact frames the
        # writes execute (VERDICT r12 item 2: the r12 plan artifacts for
        # this operator showed a trivial ExistingRDD scan, not the build)
        if not explain_dir:
            return
        import io
        from contextlib import redirect_stdout

        os.makedirs(explain_dir, exist_ok=True)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        with open(os.path.join(explain_dir, f"{name}.txt"), "w") as fh:
            fh.write(buf.getvalue())

    widths: list[int] = []
    if max_len > 0:
        # ranks ACCUMULATE as r_<w> columns through the doubling rounds —
        # the serving ``wide`` table is the final round's frame, written
        # ONCE (format 5, r12: the r11 layout committed a full level_<w>
        # position table per round and re-joined 4 of them at the end).
        # Format 6 (r13, VERDICT task 6) extends the same move to the
        # DICTIONARIES: each round's pair-dict and skey frames are
        # materialized with an eager localCheckpoint (lineage truncation
        # + one compute, exactly what the per-round parquet commit
        # bought) and ALL of them commit in two partitionBy("w") writes
        # at the end — 7 write jobs + 7 schema-inference read-back jobs
        # become 2 write jobs on a build whose budget is scheduler floor,
        # and the filesystem sees 2 commits instead of 7 (guide §1.4/§6).
        d1 = _global_dense_rank(suf.select("k"), ["k"], "rank").localCheckpoint(
            eager=True
        )
        cur = suf.join(F.broadcast(d1), "k").select(
            "doc_key", "pos", F.col("rank").alias("r_1")
        )
        # skey_w = the STRING-keyed dictionary (k: w-unit key → rank),
        # what makes pattern lookups a single join instead of a per-width
        # doubling chain. Built incrementally from the pair dictionary:
        # skey_{2h}.k = skey_h[r1].k ⊕ skey_h[r2].k (just k1 when r2=0,
        # the clamped-tail sentinel; ⊕ inserts ``sep`` — '' for chars,
        # TOKEN_SEP for tokens) — exactly the level key's definition, so
        # no corpus re-scan. skey_1 IS dict_1.
        prev_sk = d1
        pair_dicts: list[tuple[int, DataFrame]] = []
        skeys: list[tuple[int, DataFrame]] = [(1, d1)]
        widths.append(1)
        h = 1
        target = min(max_len, max_width)
        lead_w = Window.partitionBy("doc_key").orderBy("pos")
        while h < target:
            # eager localCheckpoint: the windowed frame is consumed twice
            # (dictionary distinct + rank join) — materializing it makes
            # the lead-window compute once per round and truncates the
            # cross-round lineage the committed levels used to cut
            paired = cur.withColumn(
                "__r2",
                F.coalesce(
                    F.lead(f"r_{h}", h).over(lead_w), F.lit(0).cast("long")
                ),
            ).localCheckpoint(eager=True)
            d = _global_dense_rank(
                paired.select(
                    F.col(f"r_{h}").alias("r1"), F.col("__r2").alias("r2")
                ),
                ["r1", "r2"],
                "rank",
            ).localCheckpoint(eager=True)
            pair_dicts.append((2 * h, d))
            prev_sk = (
                d.join(
                    prev_sk.select(F.col("rank").alias("r1"), F.col("k").alias("k1")),
                    "r1",
                )
                .join(
                    prev_sk.select(F.col("rank").alias("r2"), F.col("k").alias("k2")),
                    "r2",
                    "left",
                )
                .select(
                    F.when(F.col("k2").isNull(), F.col("k1"))
                    .otherwise(
                        F.concat(F.col("k1"), F.lit(sep), F.col("k2"))
                    )
                    .alias("k"),
                    "rank",
                )
                .localCheckpoint(eager=True)
            )
            skeys.append((2 * h, prev_sk))
            cur = (
                paired.join(
                    d,
                    (paired[f"r_{h}"] == d["r1"]) & (paired["__r2"] == d["r2"]),
                )
                .drop("r1", "r2", "__r2")
                .withColumnRenamed("rank", f"r_{2 * h}")
            )
            h *= 2
            widths.append(h)

        # the two batched dictionary commits. repartition keys: ~n_files
        # files per width — partitionBy("w") routes rows to per-width
        # directories inside ONE commit; (w, rank % n_files) spreads each
        # width over n_files writer tasks (rank is dense, so the spread
        # is even; deterministic key, no rand() — guide §2.5)
        def _batched(frames: list[tuple[int, DataFrame]], cols: list[str],
                     name: str) -> None:
            if not frames:
                return
            un = None
            for w, df in frames:
                part = df.select(
                    *[F.col(c) for c in cols], F.lit(w).cast("long").alias("w")
                )
                un = part if un is None else un.unionByName(part)
            out = un.repartition(
                n_files * len(frames), F.col("w"), F.pmod(F.col("rank"), F.lit(n_files))
            )
            _dump_plan(out, f"{name}_write")
            out.write.mode("overwrite").partitionBy("w").parquet(
                os.path.join(tmp, name)
            )

        _batched(skeys, ["k", "rank"], "skeys")
        _batched(pair_dicts, ["r1", "r2", "rank"], "pairdicts")

        # the SERVING table: every width's rank co-located per position,
        # doc-partitioned so the query kernel never shuffles (module
        # docstring: one map-only scan per query batch). ``cur`` already
        # carries every width's rank; ``doc_len`` (the docs-arrive-whole
        # invariant the scan kernel CHECKS, ADVICE r11) is a per-doc
        # count window on the exchange this write needs anyway — the
        # sortWithinPartitions(doc_key, pos) below satisfies the window's
        # sort requirement, so no extra exchange or sort is planned.
        # partition count: every output file must stay under the reader's
        # maxPartitionBytes (128 MB default) so a scan NEVER SPLITS a file
        # — the kernel needs each doc's rows whole in one read partition,
        # and repartition-by-doc_key puts a doc in exactly one file
        par = int(total_units * (len(widths) + 2) * 8 // (64 << 20)) + 1
        wide_out = (
            cur.repartition(par, "doc_key")
            .sortWithinPartitions("doc_key", "pos")
            .withColumn(
                "doc_len",
                F.count("*").over(Window.partitionBy("doc_key")).cast("long"),
            )
        )
        _dump_plan(wide_out, "wide_write")
        wide_out.write.mode("overwrite").parquet(os.path.join(tmp, "wide"))

    import uuid

    meta = {
        "kind": kind,
        "sep": sep,
        "format": 6,
        "widths": widths,
        "max_width": max_width,
        "n_docs": n_docs,
        "total_chars": total_units,
        # build nonce: distinguishes this build from any prior build at the
        # same path whose (n_docs, total_chars, widths) coincide — the
        # key-dictionary memo keys on it, so a rebuild over a changed
        # corpus can never serve a stale rank→key map (ADVICE r11)
        "nonce": uuid.uuid4().hex,
    }
    with open(os.path.join(tmp, META_NAME), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    # evict any memoized alphabet for this path — the new nonce would miss
    # anyway, but dropping the dead entries keeps the bounded memo useful
    for k in [k for k in SuffixIndex._CHAR_MEMO if k and k[0] == path]:
        SuffixIndex._CHAR_MEMO.pop(k, None)
    return SuffixIndex(spark, path, meta)


class SuffixIndex:
    """Handle on a persisted suffix-rank index directory. ``level(w)`` /
    ``rank_dict(w)`` are plain parquet reads — lazily planned, scanned by
    whatever query consumes them."""

    def __init__(self, spark: SparkSession, path: str, meta: dict):
        self.spark = spark
        self.path = path
        self.widths = list(meta["widths"])
        self.max_width = meta["max_width"]
        self.n_docs = meta.get("n_docs")
        self.total_chars = meta.get("total_chars")
        self.format = meta.get("format", 1)
        self.nonce = meta.get("nonce")
        self.kind = meta.get("kind", "char-suffix-rank-index")
        self.sep = meta.get("sep", "")

    @staticmethod
    def read(spark: SparkSession, path: str) -> "SuffixIndex":
        with open(os.path.join(path, META_NAME)) as f:
            return SuffixIndex(spark, path, json.load(f))

    @staticmethod
    def read_or_build(
        spark: SparkSession,
        docs: DataFrame,
        path: str,
        max_width: int = 8,
        id_col: str = "doc_id",
        text_col: str = "text",
        verify: bool = False,
    ) -> "SuffixIndex":
        """Load the index at ``path`` if present (rebuilding when
        ``verify=True`` finds an (n_docs, total_chars) mismatch with
        ``docs``, or when the stored max_width is smaller than requested);
        build it otherwise."""
        if os.path.isfile(os.path.join(path, META_NAME)):
            idx = SuffixIndex.read(spark, path)
            stale = (
                idx.max_width < max_width
                or idx.format < 5
                or idx.kind != "char-suffix-rank-index"
            )
            if verify and not stale:
                from frappe_data_pipelines_spark.operators.guards import (
                    collect_bounded,
                )

                (st,) = collect_bounded(
                    docs.filter(F.length(text_col) > 0).agg(
                        F.count("*").alias("n"),
                        F.sum(F.length(text_col)).alias("c"),
                    ),
                    1,
                    "SuffixIndex verify probe",
                )
                stale = (st["n"], st["c"] or 0) != (idx.n_docs, idx.total_chars)
            if not stale:
                return idx
        return build_suffix_index(docs, path, max_width, id_col, text_col)

    @staticmethod
    def read_or_build_tokens(
        spark: SparkSession,
        docs: DataFrame,
        path: str,
        max_width: int = 8,
        id_col: str = "doc_id",
        tokens_col: str = "tokens",
        verify: bool = False,
    ) -> "SuffixIndex":
        """Token-index twin of ``read_or_build`` — same staleness rules
        with the probe over ``size(tokens)``."""
        if os.path.isfile(os.path.join(path, META_NAME)):
            idx = SuffixIndex.read(spark, path)
            stale = (
                idx.max_width < max_width
                or idx.format < 5
                or idx.kind != "token-suffix-rank-index"
            )
            if verify and not stale:
                from frappe_data_pipelines_spark.operators.guards import (
                    collect_bounded,
                )

                (st,) = collect_bounded(
                    docs.filter(F.size(tokens_col) > 0).agg(
                        F.count("*").alias("n"),
                        F.sum(F.size(tokens_col)).alias("c"),
                    ),
                    1,
                    "SuffixIndex token verify probe",
                )
                stale = (st["n"], st["c"] or 0) != (idx.n_docs, idx.total_chars)
            if not stale:
                return idx
        return build_token_suffix_index(docs, path, max_width, id_col, tokens_col)

    # explicit schemas on every read: the serving path's budget is JOB
    # COUNT, and schema inference costs one footer-scan job per
    # spark.read.parquet — ~8 pure-overhead jobs per query for schemas
    # that are static by construction
    def rank_dict(self, w: int) -> DataFrame:
        if w == 1:
            return self.skey(1)
        # format 6: all pair dictionaries live under one partitionBy("w")
        # layout committed in a single write; reading the w=<w> subdir
        # directly keeps the explicit-schema, no-footer-job discipline
        name = f"pairdicts/w={w}" if self.format >= 6 else f"dict_{w}"
        return self.spark.read.schema("r1 long, r2 long, rank long").parquet(
            os.path.join(self.path, name)
        )

    def skey(self, w: int) -> DataFrame:
        """(k: w-char substring, rank) — the string-keyed dictionary;
        width 1's is the char dictionary itself."""
        if self.format >= 6:
            name = f"skeys/w={w}"
        else:
            name = "dict_1" if w == 1 else f"skey_{w}"
        return self.spark.read.schema("k string, rank long").parquet(
            os.path.join(self.path, name)
        )

    def wide(self) -> DataFrame:
        """The serving table: (doc_key, pos, r_<w> per width, doc_len),
        doc-partitioned + (doc_key, pos)-sorted at build time. ``doc_len``
        is the stored per-doc row count the scan kernel validates against
        (ADVICE r11 — the docs-arrive-whole invariant is checked, not
        assumed)."""
        cols = ", ".join(f"r_{w} long" for w in self.widths)
        return self.spark.read.schema(
            f"doc_key string, pos long, {cols}, doc_len long"
        ).parquet(os.path.join(self.path, "wide"))

    # alphabet dictionaries memoized ACROSS handles (keyed on the identity
    # stamped in meta): a serving process opens a fresh handle per query,
    # and one saved collect job is a visible fraction of the query budget
    _CHAR_MEMO: dict = {}

    def char_of_rank(self) -> dict:
        """{width-1 rank → 1-char string}, alphabet-sized — collected once
        per distinct index and memoized (the kernel recovers next-chars
        from width-1 ranks through this map; rank 0 is the end-of-document
        sentinel)."""
        key = (self.path, self.nonce, self.n_docs, self.total_chars,
               tuple(self.widths))
        memo = SuffixIndex._CHAR_MEMO
        if key not in memo:
            from frappe_data_pipelines_spark.operators.guards import (
                collect_bounded,
            )

            rows = collect_bounded(
                self.skey(1), 5_000_000, "suffix-index char dictionary"
            )
            if len(memo) >= 8:
                memo.clear()
            memo[key] = {r["rank"]: r["k"] for r in rows} | {0: ""}
        return memo[key]

    def summary(self) -> list[tuple[int, int, int]]:
        """[(width, n_positions, n_distinct)] per level — n_distinct is
        max(rank), exact under dense-rank semantics. ONE agg job over the
        wide serving table (every width's rank is a column of it; each
        level has one row per position, so n_positions is shared) —
        format 4 paid one agg job per level_<w> table instead."""
        if not self.widths:
            return []
        row = self.wide().agg(
            F.count("*").alias("n"),
            *[F.max(f"r_{w}").alias(f"m_{w}") for w in self.widths],
        ).collect()[0]
        return [(w, row["n"], row[f"m_{w}"]) for w in self.widths]


def _decompose(plen: int, h0: int) -> list[tuple[int, int]]:
    """[(pos, width)] binary-decomposition pieces of a pattern — the seed
    (1, h0) followed by strictly smaller widths over the remainder, the
    exact order ``suffix._refine_pattern_candidates`` consumes."""
    pieces = [(1, h0)]
    pp, rem, w = 1 + h0, plen - h0, h0 >> 1
    while rem > 0 and w >= 1:
        if rem >= w:
            pieces.append((pp, w))
            pp += w
            rem -= w
        w >>= 1
    return pieces


def _piece_ranks(index: SuffixIndex, pat_rows) -> dict:
    """{(pattern_id, pos, width) → rank} for every decomposition piece of
    every pattern, resolved in ONE Spark action: the pieces are literal
    substrings enumerated driver-side (≤ log2(L) per pattern), and a
    single scan of the unioned string-keyed dictionaries broadcast-joined
    with that local relation returns every rank at once. A piece absent
    from the dictionary (the substring never occurs) is simply missing —
    its pattern can have no occurrence through that piece.

    This is the whole point of persisting skey tables: the r11 first cut
    resolved pattern ranks through the (r1, r2) pair dictionaries — a
    per-width chain of checkpointed joins whose JOB COUNT (~15 scheduler
    floors) cost more than the uncached matcher saved."""
    import math as _math

    pieces = []
    for r in pat_rows:
        pid, pat = r["pattern_id"], r["pattern"]
        h0 = 1 << int(_math.log2(len(pat)))
        for pos, w in _decompose(len(pat), h0):
            seg = pat[pos - 1 : pos - 1 + w]
            # char pattern: the piece key IS the substring; token pattern
            # (a list): the key is the sep-joined slice, matching the
            # build's skey derivation
            key = seg if isinstance(pat, str) else index.sep.join(seg)
            pieces.append((pid, pos, w, key))
    from pyspark.sql import types as T

    from frappe_data_pipelines_spark.session import local_frame

    # a local relation: the lookup job runs no Python task
    prel = local_frame(index.spark, pieces, T.StructType([
        T.StructField("pattern_id", T.LongType()),
        T.StructField("pos", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("k", T.StringType()),
    ]))
    lookup = None
    for w in sorted({p[2] for p in pieces}):
        t = index.skey(w).select(
            F.lit(w).cast("long").alias("width"), "k", "rank"
        )
        lookup = t if lookup is None else lookup.unionByName(t)
    got = (
        lookup.join(F.broadcast(prel), ["width", "k"])
        .select("pattern_id", "pos", "width", "rank")
        .collect()
    )
    return {(r["pattern_id"], r["pos"], r["width"]): r["rank"] for r in got}


def _kernel_scan(index: SuffixIndex, pat_rows) -> DataFrame:
    """(pattern_id, doc_key, next_r1, n): every exact occurrence of every
    pattern, aggregated per (pattern, doc, following-char width-1 rank) —
    ONE vectorized map-only pass over the ``wide`` serving table.

    Per doc, each pattern's binary-decomposition piece ranks are compared
    against shifted rank arrays: piece (off, w, rk) matches at 0-based
    position i iff r_w[i+off] == rk. A clamped tail key can never equal a
    full-width piece rank (different strings, dense ranks), so in-bounds
    checks are implicit, and all pieces matching proves the whole pattern
    occurrence. The following char is r_1[i+plen], 0 when the match ends
    at the document boundary (the end-of-text event) — rank ↔ char being
    bijective, no corpus text is touched.

    Scale: no shuffle, no join — the aggregation state per task is
    bounded by (patterns × alphabet × docs-in-partition); the scan
    parallelism is the wide table's file count (build guarantees files
    under the reader's split threshold, so a doc is never split across
    read partitions)."""
    spark = index.spark
    out_schema = "pattern_id long, doc_key string, next_r1 long, n long"
    if not index.widths:
        return spark.createDataFrame([], out_schema)
    plen_of = {r["pattern_id"]: len(r["pattern"]) for r in pat_rows}
    h0_of = {p: 1 << int(math.log2(n)) for p, n in plen_of.items()}
    built = max(index.widths)
    if max(h0_of.values()) > built:
        raise ValueError(
            f"pattern of length {max(plen_of.values())} needs seed width "
            f"{max(h0_of.values())}, but the index was built to width "
            f"{built} — rebuild with max_width >= {max(h0_of.values())}"
        )
    ranks = _piece_ranks(index, pat_rows)
    progs = []
    for p, plen in plen_of.items():
        pieces = [
            (off - 1, w, ranks.get((p, off, w)))
            for off, w in _decompose(plen, h0_of[p])
        ]
        if all(rk is not None for _, _, rk in pieces):
            progs.append((p, plen, pieces))
        # a piece absent from the dictionaries = the substring never
        # occurs = the pattern has zero occurrences: no program emitted
    if not progs:
        return spark.createDataFrame([], out_schema)
    widths = list(index.widths)
    bc = spark.sparkContext.broadcast((widths, progs))

    def scan(batches):
        import numpy as np
        import pandas as pd

        ws, programs = bc.value
        pdfs = list(batches)
        if not pdfs:
            return
        # a doc's rows can span Arrow batches within the partition —
        # concat once (partition size is bounded by the build's file
        # sizing), group per doc
        pdf = pd.concat(pdfs, ignore_index=True)
        out_pid, out_doc, out_nr, out_n = [], [], [], []
        for doc, g in pdf.groupby("doc_key", sort=False):
            g = g.sort_values("pos")
            r = {w: g[f"r_{w}"].to_numpy() for w in ws}
            n = len(g)
            # docs-arrive-whole invariant, CHECKED not assumed (ADVICE
            # r11): the build sizes files under the reader's split
            # threshold, but a skewed doc_key hash or non-default
            # maxPartitionBytes/parquet.block.size could still fragment a
            # doc across read partitions — which would silently drop
            # matches and misreport end-of-doc continuations. The stored
            # per-doc length turns that into a loud rebuild signal.
            stored = int(g["doc_len"].iloc[0])
            pos = g["pos"].to_numpy()
            if n != stored or int(pos[0]) != 1 or int(pos[-1]) != n:
                raise ValueError(
                    f"suffix-index wide table: doc {doc!r} arrived with "
                    f"{n} rows (positions {pos[0]}..{pos[-1]}) but the "
                    f"stored doc_len is {stored} — the doc fragmented "
                    "across read partitions (oversized file or non-default "
                    "spark.sql.files.maxPartitionBytes). Rebuild the index "
                    "or restore default read-split configs."
                )
            r1 = r[1]
            for pid, plen, pieces in programs:
                mask = None
                for off, w, rk in pieces:
                    m = np.zeros(n, dtype=bool)
                    if off < n:
                        m[: n - off] = r[w][off:] == rk
                    mask = m if mask is None else (mask & m)
                idx = np.nonzero(mask)[0]
                if not len(idx):
                    continue
                nr = np.zeros(len(idx), dtype=np.int64)
                inb = idx + plen < n
                nr[inb] = r1[(idx + plen)[inb]]
                uniq, cnt = np.unique(nr, return_counts=True)
                out_pid.extend([pid] * len(uniq))
                out_doc.extend([doc] * len(uniq))
                out_nr.extend(uniq.tolist())
                out_n.extend(cnt.tolist())
        yield pd.DataFrame(
            {"pattern_id": out_pid, "doc_key": out_doc,
             "next_r1": out_nr, "n": out_n}
        )

    return kernel.map_batches(index.wide(), scan, out_schema)


def indexed_pattern_counts(
    index: SuffixIndex, patterns: DataFrame, max_patterns: int = 10_000
) -> DataFrame:
    """``substring_pattern_counts`` served from the persisted index:
    (pattern_id, pattern, pattern_len, n_docs, n_occurrences), zero rows
    kept. No construction — O(log max_width) dictionary/level scans."""
    from frappe_data_pipelines_spark.operators.suffix import _collect_patterns

    pats, pat_rows = _collect_patterns(patterns, "indexed_pattern_counts", max_patterns)
    zero = pats.select(
        "pattern_id", "pattern", F.length("pattern").cast("long").alias("pattern_len")
    )
    if not pat_rows:
        return zero.select(
            "pattern_id", "pattern", "pattern_len",
            F.lit(0).cast("long").alias("n_docs"),
            F.lit(0).cast("long").alias("n_occurrences"),
        ).limit(0)
    per_pat = _kernel_scan(index, pat_rows).groupBy("pattern_id").agg(
        F.countDistinct("doc_key").cast("long").alias("n_docs"),
        F.sum("n").cast("long").alias("n_occurrences"),
    )
    return zero.join(per_pat, "pattern_id", "left").select(
        "pattern_id",
        "pattern",
        "pattern_len",
        F.coalesce("n_docs", F.lit(0)).cast("long").alias("n_docs"),
        F.coalesce("n_occurrences", F.lit(0)).cast("long").alias("n_occurrences"),
    )


def indexed_pattern_continuations(
    index: SuffixIndex,
    patterns: DataFrame,
    max_patterns: int = 10_000,
) -> DataFrame:
    """``pattern_continuations`` served from the persisted index — same
    result contract (pattern_id, pattern, next_char, n_continuations),
    NO corpus access at all: the kernel emits next chars as width-1
    ranks, mapped back through the alphabet-sized char dictionary via one
    broadcast local-relation join; the pattern string rides another."""
    from frappe_data_pipelines_spark.operators.suffix import _collect_patterns

    pats, pat_rows = _collect_patterns(
        patterns, "indexed_pattern_continuations", max_patterns
    )
    if not pat_rows or not index.widths:  # no patterns / empty-corpus index
        return pats.select(
            "pattern_id",
            "pattern",
            F.lit("").alias("next_char"),
            F.lit(0).cast("long").alias("n_continuations"),
        ).limit(0)
    spark = index.spark
    grouped = _indexed_continuations(
        index, [(r["pattern_id"], r["pattern"]) for r in pat_rows]
    )
    char_rel = spark.createDataFrame(
        list(index.char_of_rank().items()), "next_r1 long, next_char string"
    )
    pats_local = spark.createDataFrame(
        [(r["pattern_id"], r["pattern"]) for r in pat_rows],
        "pattern_id long, pattern string",
    )
    return (
        grouped.join(F.broadcast(char_rel), "next_r1")
        .join(F.broadcast(pats_local), "pattern_id")
        .select("pattern_id", "pattern", "next_char", "n_continuations")
    )


def _indexed_continuations(
    index: SuffixIndex,
    pat_pairs: list[tuple[int, str]],
) -> DataFrame:
    """(pattern_id, next_r1, n_continuations) with DRIVER-LOCAL patterns —
    the kernel scan aggregated over docs; next chars still as width-1
    ranks (callers map them through ``char_of_rank``, alphabet-sized).
    Shared by ``indexed_pattern_continuations`` (which bounded-collects a
    patterns DataFrame first) and ``infinigram_backoff_indexed`` (whose
    patterns are query-text suffixes that never existed distributed, so
    no collect job at all)."""
    pat_rows = [{"pattern_id": p, "pattern": s} for p, s in pat_pairs]
    return _kernel_scan(index, pat_rows).groupBy("pattern_id", "next_r1").agg(
        F.sum("n").cast("long").alias("n_continuations")
    )


def infinigram_backoff_indexed(
    docs: DataFrame,
    index: SuffixIndex,
    query_text: str,
    min_context: int = 1,
    max_context: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """∞-gram inference served from the persisted index — identical
    result contract to ``suffix.infinigram_backoff`` (longest present
    query suffix wins; next-char distribution with backoff-free
    probabilities), without rebuilding rank levels: this is the
    build-once/query-many split an infini-gram service runs (VERDICT r10
    task 2)."""
    L = len(query_text)
    hi = min(max_context if max_context is not None else L, L)
    if min_context < 1 or min_context > hi:
        raise ValueError("need 1 <= min_context <= max_context <= len(query_text)")
    spark = docs.sparkSession
    # SERVING-PATH execution shape (the ≤1s-at-sf0.1 budget, VERDICT r10
    # task 2): the distribution is pattern-bounded (≤ query_len × alphabet
    # rows), so the argmax + normalization finish DRIVER-SIDE on a bounded
    # collect (same class as the engine's 1-row digests). Total Spark
    # actions per query: the piece-rank lookup, the kernel scan collect,
    # and (first call only) the char-dictionary collect.
    cont = _indexed_continuations(
        index,
        [(n, query_text[L - n :]) for n in range(min_context, hi + 1)],
    )
    # plain collect, bound checked AFTER: collect_bounded's limit(cap+1)
    # runs CollectLimit's incremental per-partition jobs — more scheduler
    # floors on a result that is already aggregated (≤ contexts × alphabet
    # rows; the distribution is what the caller materializes anyway)
    rows = cont.collect()
    if len(rows) > 1_000_000:
        raise ValueError(
            "infinigram continuation distribution exceeded 1M rows — "
            "not a plausible next-char distribution; check the corpus"
        )
    schema = (
        "context_len long, context string, next_char string, "
        "n_continuations long, p double"
    )
    if not rows:
        return spark.createDataFrame([], schema)
    char_of = index.char_of_rank()
    best = max(r["pattern_id"] for r in rows)
    context = query_text[L - best :]
    chosen = [r for r in rows if r["pattern_id"] == best]
    total = sum(r["n_continuations"] for r in chosen)
    # mirror F.round's HALF_UP-on-decimal-repr semantics exactly (python
    # round() is banker's rounding — a hash-drift trap on .5 boundaries)
    from decimal import ROUND_HALF_UP, Decimal

    out = [
        (
            best,
            context,
            char_of[r["next_r1"]],
            r["n_continuations"],
            float(
                Decimal(str(r["n_continuations"] / total)).quantize(
                    Decimal("1e-6"), ROUND_HALF_UP
                )
            ),
        )
        for r in chosen
    ]
    return spark.createDataFrame(out, schema)


def indexed_token_pattern_counts(
    index: SuffixIndex,
    patterns: DataFrame,
    pattern_col: str = "pattern",
    max_patterns: int = 10_000,
) -> DataFrame:
    """``token_pattern_counts`` served from the PERSISTED token index —
    (pattern_id, pattern_len, n_docs, n_occurrences), zero rows kept, the
    pattern array omitted from the output (same contract as the uncached
    twin: array columns don't hash into the oracle compare). ``patterns``
    is (pattern_id, pattern array<string>). No construction: piece ranks
    from one skey scan, occurrences from one kernel pass over ``wide``."""
    from frappe_data_pipelines_spark.operators.suffix import _collect_patterns

    if index.kind != "token-suffix-rank-index":
        raise ValueError(
            "indexed_token_pattern_counts needs a token index, got "
            f"{index.kind!r}"
        )
    pats, pat_rows = _collect_patterns(
        patterns, "indexed_token_pattern_counts", max_patterns,
        "array<string>", pattern_col,
    )
    zero = pats.select(
        "pattern_id", F.size("pattern").cast("long").alias("pattern_len")
    )
    if not pat_rows:
        return zero.select(
            "pattern_id", "pattern_len",
            F.lit(0).cast("long").alias("n_docs"),
            F.lit(0).cast("long").alias("n_occurrences"),
        ).limit(0)
    per_pat = _kernel_scan(index, pat_rows).groupBy("pattern_id").agg(
        F.countDistinct("doc_key").cast("long").alias("n_docs"),
        F.sum("n").cast("long").alias("n_occurrences"),
    )
    return zero.join(per_pat, "pattern_id", "left").select(
        "pattern_id",
        "pattern_len",
        F.coalesce("n_docs", F.lit(0)).cast("long").alias("n_docs"),
        F.coalesce("n_occurrences", F.lit(0)).cast("long").alias("n_occurrences"),
    )


def indexed_next_token_distribution(
    index: SuffixIndex,
    patterns: DataFrame,
    pattern_col: str = "pattern",
    max_patterns: int = 10_000,
) -> DataFrame:
    """Next-TOKEN distribution after each context n-gram, served from the
    persisted token index — the token-unit ∞-gram prediction
    (``indexed_pattern_continuations`` is the char twin): the kernel
    emits following tokens as width-1 ranks; one vocabulary-sized
    broadcast maps them back ('' at a document boundary). Returns
    (pattern_id, next_token, n_continuations) — patterns with zero
    occurrences contribute no rows."""
    from frappe_data_pipelines_spark.operators.suffix import _collect_patterns

    if index.kind != "token-suffix-rank-index":
        raise ValueError(
            "indexed_next_token_distribution needs a token index, got "
            f"{index.kind!r}"
        )
    pats, pat_rows = _collect_patterns(
        patterns, "indexed_next_token_distribution", max_patterns,
        "array<string>", pattern_col,
    )
    spark = index.spark
    out_schema = "pattern_id long, next_token string, n_continuations long"
    if not pat_rows or not index.widths:
        return spark.createDataFrame([], out_schema)
    grouped = _indexed_continuations(
        index, [(r["pattern_id"], list(r["pattern"])) for r in pat_rows]
    )
    tok_rel = spark.createDataFrame(
        list(index.char_of_rank().items()), "next_r1 long, next_token string"
    )
    return grouped.join(F.broadcast(tok_rel), "next_r1").select(
        "pattern_id", "next_token", "n_continuations"
    )


def _validate_local_pats(pat_pairs, label: str) -> None:
    """Pure-python twin of ``_collect_patterns``'s validation for
    patterns that never existed distributed — no Spark job."""
    if any(p is None or len(p) == 0 for _, p in pat_pairs):
        raise ValueError(f"{label}: empty/null pattern")
    if len({pid for pid, _ in pat_pairs}) != len(pat_pairs):
        raise ValueError(f"{label}: duplicate pattern_id")


def indexed_pattern_counts_local(
    index: SuffixIndex, pat_pairs: list[tuple[int, str]]
) -> DataFrame:
    """``indexed_pattern_counts`` with DRIVER-LOCAL patterns: same result
    contract (pattern_id, pattern, pattern_len, n_docs, n_occurrences,
    zero rows kept), minus the pattern-DataFrame collect job — query
    literals are driver-side by construction, so shipping them through a
    distributed relation just to collect them back was one pure-overhead
    scheduler floor per call (the job-count lesson;
    ``infinigram_backoff_indexed`` already serves collect-free)."""
    _validate_local_pats(pat_pairs, "indexed_pattern_counts_local")
    spark = index.spark
    zero = spark.createDataFrame(
        [(pid, p, len(p)) for pid, p in pat_pairs],
        "pattern_id long, pattern string, pattern_len long",
    )
    if not pat_pairs or not index.widths:
        all_zero = zero.select(
            "pattern_id", "pattern", "pattern_len",
            F.lit(0).cast("long").alias("n_docs"),
            F.lit(0).cast("long").alias("n_occurrences"),
        )
        return all_zero.limit(0) if not pat_pairs else all_zero
    pat_rows = [{"pattern_id": pid, "pattern": p} for pid, p in pat_pairs]
    per_pat = _kernel_scan(index, pat_rows).groupBy("pattern_id").agg(
        F.countDistinct("doc_key").cast("long").alias("n_docs"),
        F.sum("n").cast("long").alias("n_occurrences"),
    )
    return zero.join(per_pat, "pattern_id", "left").select(
        "pattern_id",
        "pattern",
        "pattern_len",
        F.coalesce("n_docs", F.lit(0)).cast("long").alias("n_docs"),
        F.coalesce("n_occurrences", F.lit(0)).cast("long").alias("n_occurrences"),
    )


def indexed_token_pattern_counts_local(
    index: SuffixIndex, pat_pairs: list[tuple[int, list]]
) -> DataFrame:
    """``indexed_token_pattern_counts`` with DRIVER-LOCAL patterns —
    same contract (pattern array omitted from the output), one collect
    job fewer (see ``indexed_pattern_counts_local``)."""
    if index.kind != "token-suffix-rank-index":
        raise ValueError(
            "indexed_token_pattern_counts_local needs a token index, got "
            f"{index.kind!r}"
        )
    _validate_local_pats(pat_pairs, "indexed_token_pattern_counts_local")
    spark = index.spark
    zero = spark.createDataFrame(
        [(pid, len(p)) for pid, p in pat_pairs],
        "pattern_id long, pattern_len long",
    )
    if not pat_pairs or not index.widths:
        all_zero = zero.select(
            "pattern_id", "pattern_len",
            F.lit(0).cast("long").alias("n_docs"),
            F.lit(0).cast("long").alias("n_occurrences"),
        )
        return all_zero.limit(0) if not pat_pairs else all_zero
    pat_rows = [{"pattern_id": pid, "pattern": list(p)} for pid, p in pat_pairs]
    per_pat = _kernel_scan(index, pat_rows).groupBy("pattern_id").agg(
        F.countDistinct("doc_key").cast("long").alias("n_docs"),
        F.sum("n").cast("long").alias("n_occurrences"),
    )
    return zero.join(per_pat, "pattern_id", "left").select(
        "pattern_id",
        "pattern_len",
        F.coalesce("n_docs", F.lit(0)).cast("long").alias("n_docs"),
        F.coalesce("n_occurrences", F.lit(0)).cast("long").alias("n_occurrences"),
    )


def indexed_next_token_distribution_local(
    index: SuffixIndex, pat_pairs: list[tuple[int, list]]
) -> DataFrame:
    """``indexed_next_token_distribution`` with DRIVER-LOCAL patterns —
    same contract, one collect job fewer."""
    if index.kind != "token-suffix-rank-index":
        raise ValueError(
            "indexed_next_token_distribution_local needs a token index, "
            f"got {index.kind!r}"
        )
    _validate_local_pats(pat_pairs, "indexed_next_token_distribution_local")
    spark = index.spark
    out_schema = "pattern_id long, next_token string, n_continuations long"
    if not pat_pairs or not index.widths:
        return spark.createDataFrame([], out_schema)
    grouped = _indexed_continuations(
        index, [(pid, list(p)) for pid, p in pat_pairs]
    )
    tok_rel = spark.createDataFrame(
        list(index.char_of_rank().items()), "next_r1 long, next_token string"
    )
    return grouped.join(F.broadcast(tok_rel), "next_r1").select(
        "pattern_id", "next_token", "n_continuations"
    )
