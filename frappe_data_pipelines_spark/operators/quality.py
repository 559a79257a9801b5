"""Corpus-quality operators for training-data curation (extensions beyond
the reference surface — SURVEY §2.H notes the reference's only quality
signals are truncation + empty guards; these add the standard LLM-corpus
filters: Gopher-style repetition metrics, deterministic stratified
sampling, and exact heavy-hitter detection with a sketch pre-filter).

Scale notes
-----------
* ``gopher_repetition_metrics`` is computed entirely with higher-order
  array functions on the per-row token array — ZERO shuffle, whole-stage
  codegen, embarrassingly parallel. The per-doc work is O(g·d) where g =
  #n-grams and d = #distinct n-grams (quadratic in doc length but bounded
  by chunking upstream); at 100 TB this is a pure map stage.
* ``hash_bernoulli_sample`` uses an md5-prefix threshold so the sample is
  deterministic, engine-portable (same rows selected by any engine with
  md5), and needs no shuffle, no global count, and no state. This is how
  you sample 100 TB without a pass to count it first.
* ``misra_gries_heavy_hitters`` finds exact heavy hitters in two passes:
  a per-partition weighted Misra-Gries summary (bounded memory, no
  shuffle) produces a guaranteed superset of candidates; a broadcast
  semi-join then recounts only those. The long tail — the expensive part
  of a naive groupBy at 100 TB — never shuffles.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from frappe_data_pipelines_spark.functions.text import tokens_expr
from frappe_data_pipelines_spark.operators import kernel


# ---------------------------------------------------------------------------
# Gopher-style repetition metrics (Rae et al. 2021, table A1)
# ---------------------------------------------------------------------------

def _grams_expr(toks: Column, n: int) -> Column:
    """Word n-grams of the token array as space-joined strings (empty array
    when the doc has < n tokens)."""
    make = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
    )
    # sequence(0, negative) yields a DESCENDING range, not empty — guard it
    return F.when(F.size(toks) >= n, make).otherwise(F.array().cast("array<string>"))


def _zero() -> Column:
    return F.lit(0).cast("long")


def _occ_chars(gram: Column, run: Column, n: int) -> Column:
    """Token-chars covered by `run` occurrences of `gram` (joiner spaces
    excluded); 0 for the initial null accumulator."""
    return F.coalesce(run * (F.length(gram) - F.lit(n - 1)), _zero()).cast("long")


def _top_run_chars(grams: Column, n: int) -> Column:
    """max over distinct grams of occurrences·token-chars, via a single
    linear pass over the sorted gram array (equal grams are adjacent, so a
    run-length accumulator replaces the O(d·g) count-each-distinct scan)."""
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        _zero().alias("run"),
        _zero().alias("best"),
    )
    return F.aggregate(
        F.array_sort(grams),
        init,
        lambda a, g: F.struct(
            g.alias("prev"),
            F.when(g == a["prev"], a["run"] + 1).otherwise(F.lit(1).cast("long")).alias("run"),
            F.when(g == a["prev"], a["best"])
            .otherwise(F.greatest(a["best"], _occ_chars(a["prev"], a["run"], n)))
            .alias("best"),
        ),
        lambda a: F.greatest(a["best"], _occ_chars(a["prev"], a["run"], n)),
    )


def _dup_run_chars(grams: Column, n: int) -> Column:
    """sum over grams occurring more than once of occurrences·token-chars,
    same sorted run-length pass as :func:`_top_run_chars`."""
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        _zero().alias("run"),
        _zero().alias("acc"),
    )

    def flush(a: Column, n: int) -> Column:
        return a["acc"] + F.when(a["run"] > 1, _occ_chars(a["prev"], a["run"], n)).otherwise(_zero())

    return F.aggregate(
        F.array_sort(grams),
        init,
        lambda a, g: F.struct(
            g.alias("prev"),
            F.when(g == a["prev"], a["run"] + 1).otherwise(F.lit(1).cast("long")).alias("run"),
            F.when(g == a["prev"], a["acc"]).otherwise(flush(a, n)).alias("acc"),
        ),
        lambda a: flush(a, n),
    )


def gopher_repetition_metrics(
    docs: DataFrame,
    text_col: str = "text",
    top_n: int = 2,
    dup_n: int = 5,
    top_frac_max: float = 0.20,
    dup_frac_max: float = 0.10,
) -> DataFrame:
    """Per-document repetition metrics à la Gopher:

    * ``top_{top_n}gram_char_frac`` — fraction of token characters covered
      by occurrences of the single most-frequent ``top_n``-gram.
    * ``dup_{dup_n}gram_char_frac`` — fraction of token characters covered
      by ``dup_n``-grams that occur more than once (overlapping occurrences
      each count, so the weighted fraction may exceed 1 on degenerate docs).
    * ``keep`` — both metrics under their thresholds.

    Character base is the sum of token lengths (separator-insensitive).
    Entirely higher-order functions on the token array: no explode, no
    shuffle. Duplicate counting runs over the SORTED gram array with a
    run-length accumulator — linear per doc instead of the naive
    count-each-distinct O(d·g) scan — and each metric is materialized once
    as an intermediate column so the expression tree isn't re-evaluated
    for the verdict.
    """
    toks = tokens_expr(F.col(text_col))
    staged = docs.select(
        "doc_id",
        toks.alias("t"),
        F.aggregate(
            F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda a, x: a + x
        ).cast("double").alias("total_chars"),
    ).select(
        "doc_id",
        F.size(F.col("t")).cast("bigint").alias("n_tokens"),
        F.round(
            F.coalesce(
                F.try_divide(
                    _top_run_chars(_grams_expr(F.col("t"), top_n), top_n).cast("double"),
                    F.col("total_chars"),
                ),
                F.lit(0.0),
            ),
            6,
        ).alias(f"top_{top_n}gram_char_frac"),
        F.round(
            F.coalesce(
                F.try_divide(
                    _dup_run_chars(_grams_expr(F.col("t"), dup_n), dup_n).cast("double"),
                    F.col("total_chars"),
                ),
                F.lit(0.0),
            ),
            6,
        ).alias(f"dup_{dup_n}gram_char_frac"),
    )
    return staged.withColumn(
        "keep",
        (F.col(f"top_{top_n}gram_char_frac") <= top_frac_max)
        & (F.col(f"dup_{dup_n}gram_char_frac") <= dup_frac_max),
    )


# ---------------------------------------------------------------------------
# Deterministic hash sampling
# ---------------------------------------------------------------------------

def rate_threshold_hex(rate: float) -> str:
    """8-hex-digit threshold such that P[md5_prefix < threshold] = rate.
    String comparison of fixed-width lowercase hex == numeric comparison,
    so the oracle can mirror it without hex→int conversion.

    ``rate >= 1.0`` returns the sentinel ``"g"``: ``'g'`` sorts after every
    lowercase-hex string (in Spark and DuckDB alike), so ``u < threshold``
    keeps ALL rows — including the 2^-32-probability prefix ``"ffffffff"``
    that a clamped hex threshold would silently drop (ADVICE r2)."""
    if rate >= 1.0:
        return "g"
    return format(max(int(rate * 2**32), 0), "08x")


def hash_bernoulli_sample(
    df: DataFrame,
    key_col: str,
    rates: dict[str, float],
    strata_col: str | None = None,
    default_rate: float = 0.0,
    salt: str = "sample:v1:",
) -> DataFrame:
    """Deterministic (re-runnable, engine-portable) Bernoulli sample.

    Each row's uniform draw is the first 8 hex digits of
    ``md5(salt || key)``; a row survives iff that prefix is below its
    stratum's rate threshold. With ``strata_col`` the rate varies per
    stratum (downsample over-represented languages / sources — the standard
    corpus-mixture move). No shuffle, no count pass, no RNG state.
    """
    u = F.substring(
        F.md5(F.concat(F.lit(salt), F.col(key_col).cast("string")).cast("binary")), 1, 8
    )
    if strata_col is None:
        thresh = F.lit(rate_threshold_hex(default_rate))
    else:
        thresh = F.lit(rate_threshold_hex(default_rate))
        for value, rate in sorted(rates.items()):
            thresh = F.when(
                F.col(strata_col) == value, F.lit(rate_threshold_hex(rate))
            ).otherwise(thresh)
    return df.where(u < thresh)


# ---------------------------------------------------------------------------
# Exact heavy hitters via per-partition Misra-Gries candidates
# ---------------------------------------------------------------------------

def _mg_summaries(df: DataFrame, key_col: str, k: int) -> DataFrame:
    """Per-partition weighted Misra-Gries summaries, unioned.

    Guarantee used downstream: any key with global count > N/k appears in
    at least one partition's summary (pigeonhole: it exceeds n_p/k on some
    partition, and MG with k counters retains every key whose local count
    exceeds n_p/k). Batches are pre-aggregated with pandas value_counts so
    the python loop runs over distinct keys, not rows. Each partition also
    emits one sentinel row (key NULL, w = partition non-null row count) so
    the global N comes out of the same scan — no separate count() pass.

    NULL keys are excluded from BOTH the candidate counters and the row
    total (ADVICE r2): a null-heavy column neither hides a reportable key
    nor inflates the threshold denominator. "Heavy hitter" is therefore
    defined over the non-null population, matching the pass-2 recount
    whose isin() filter never matches NULL.
    """

    def part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict = {}
        n = 0
        for pdf in batches:
            keys = pdf["k"].dropna()
            n += len(keys)
            for key, w in keys.value_counts().items():
                counters[key] = counters.get(key, 0) + int(w)
            while len(counters) > k:
                m = min(counters.values())
                counters = {c: v - m for c, v in counters.items() if v > m}
        yield pd.DataFrame(
            {"k": list(counters.keys()) + [None], "w": list(counters.values()) + [n]}
        )

    keyed = df.select(F.col(key_col).cast("string").alias("k"))
    return kernel.map_batches(keyed, part, "k string, w long")


def misra_gries_heavy_hitters(
    df: DataFrame,
    key_col: str,
    threshold_frac: float,
    k_multiplier: int = 4,
) -> DataFrame:
    """EXACT keys with frequency > ``threshold_frac`` of all rows, plus
    exact counts — without shuffling the long tail.

    Pass 1 scans once, building a bounded-memory Misra-Gries candidate
    summary per partition (k = k_multiplier/threshold_frac counters — the
    multiplier absorbs the weighted-decrement slack, so the candidate set
    is a guaranteed superset of the true heavy hitters) plus the global
    row count. The summary is tiny (≤ k+1 rows per partition) so it is
    collected to the driver. Pass 2 recounts only rows matching a
    candidate — the IN-filter pushes into the parquet scan — and applies
    the exact threshold. Output is exact and deterministic; the sketch
    only prunes the long tail, which at 100 TB is what makes a plain
    groupBy+HAVING expensive.
    """
    k = max(int(k_multiplier / threshold_frac), 16)
    from .guards import MAX_SKETCH_SUMMARY_ROWS, collect_bounded

    rows = collect_bounded(
        _mg_summaries(df, key_col, k), MAX_SKETCH_SUMMARY_ROWS, "Misra-Gries summaries"
    )
    total = sum(r["w"] for r in rows if r["k"] is None)
    cands = sorted({r["k"] for r in rows if r["k"] is not None})
    cutoff = int(total * threshold_frac)
    return (
        df.where(F.col(key_col).cast("string").isin(cands))
        .groupBy(F.col(key_col).cast("string").alias(key_col))
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .where(F.col("cnt") > cutoff)
    )


def extract_domain(url_col: Column) -> Column:
    """Registered host of a URL as a column expression (scheme-agnostic,
    port-stripped). Deliberately regexp-based rather than ``F.parse_url``
    so the DuckDB oracle can evaluate the identical expression."""
    return F.lower(F.regexp_extract(url_col, r"^[a-z]+://([^/:?#]+)", 1))


def domain_cap(
    docs: DataFrame,
    url_col: str = "url",
    cap: int = 5,
    priority_cols: list | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-domain document cap — the RefinedWeb/C4-style dominance guard: no
    single host may contribute more than ``cap`` documents to the corpus.
    Deterministic priority (default: longest document first, id tiebreak)
    decides WHICH documents a crowded domain keeps.

    Scale shape: one hash shuffle on the extracted domain, then a windowed
    rank with the cap applied — the rank never materializes more than the
    running window per task. A pathological mega-domain is the classic skew
    key; at 100 TB put AQE skew-join handling on (enabled in session.py) or
    pre-aggregate per-domain counts and broadcast the under-cap domains past
    the window entirely (they need no ranking). That short-circuit is
    ``domain_cap_skew_aware`` below.
    """
    from pyspark.sql.window import Window

    priority = priority_cols or [F.col("n_chars").desc(), F.col(id_col).asc()]
    dom = docs.withColumn("domain", extract_domain(F.col(url_col)))
    w = Window.partitionBy("domain").orderBy(*priority)
    return (
        dom.withColumn("domain_rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("domain_rank") <= cap)
    )


def domain_cap_skew_aware(
    docs: DataFrame,
    url_col: str = "url",
    cap: int = 5,
    priority_cols: list | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """``domain_cap`` with the under-cap short-circuit: domains whose TOTAL
    count is <= cap keep every row WITHOUT entering the ranking window —
    only crowded domains shuffle into the rank. On web-scale corpora the
    under-cap long tail is the overwhelming majority of domains, so the
    expensive windowed path sees only the head; the pre-count is a
    partial-aggregated (map-side combined) count, far cheaper than a
    window over everything. Output matches ``domain_cap`` minus the
    ``domain_rank`` column (the tail never gets ranked)."""
    from pyspark.sql.window import Window

    priority = priority_cols or [F.col("n_chars").desc(), F.col(id_col).asc()]
    dom = docs.withColumn("domain", extract_domain(F.col(url_col)))
    counts = dom.groupBy("domain").agg(F.count("*").alias("__dom_n"))
    dom = dom.join(F.broadcast(counts.where(F.col("__dom_n") > cap)), "domain", "left")
    under = dom.where(F.col("__dom_n").isNull()).drop("__dom_n")
    w = Window.partitionBy("domain").orderBy(*priority)
    crowded = (
        dom.where(F.col("__dom_n").isNotNull())
        .drop("__dom_n")
        .withColumn("__rank", F.row_number().over(w))
        .where(F.col("__rank") <= cap)
        .drop("__rank")
    )
    return under.unionByName(crowded)


# ---------------------------------------------------------------------------
# PII detection / redaction
# ---------------------------------------------------------------------------

# Patterns restricted to the Java-regex ∩ RE2 common subset (no
# backreferences/lookaround, ASCII \b, explicit [0-9] classes) so the same
# literal string drives both the Spark plan and the DuckDB oracle.
# Replacement order matters only for nested shapes; these five are mutually
# non-overlapping by construction (word boundaries + distinct group widths).
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "credit_card": r"\b[0-9]{4}[- ][0-9]{4}[- ][0-9]{4}[- ][0-9]{4}\b",
    "ssn": r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b",
    "phone": r"\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\b",
    "ipv4": r"\b[0-9]{1,3}(?:\.[0-9]{1,3}){3}\b",
}


def redact_pii(
    df: DataFrame,
    text_col: str = "text",
    patterns: dict[str, str] | None = None,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Scrub PII from a text column: each pattern family is replaced with
    its ``<NAME>`` token and counted. Pure ``regexp_replace``/
    ``regexp_count`` Column expressions — JVM-side, whole-stage codegen,
    zero shuffle; at 100 TB this is a map-only pass (the standard
    pre-training scrub step, cf. C4/RefinedWeb pipeline descriptions).

    Returns ``keep_cols`` (default: all input columns) + ``redacted`` +
    one ``n_<name>`` count per pattern + ``pii_total``.
    """
    pats = patterns or PII_PATTERNS
    red = F.col(text_col)
    for name, pat in pats.items():
        red = F.regexp_replace(red, pat, f"<{name.upper()}>")
    counts = [
        F.regexp_count(F.col(text_col), F.lit(pat)).cast("bigint").alias(f"n_{name}")
        for name, pat in pats.items()
    ]
    total = sum(
        (F.regexp_count(F.col(text_col), F.lit(p)).cast("bigint") for p in pats.values()),
        F.lit(0).cast("bigint"),
    ).alias("pii_total")
    cols = keep_cols if keep_cols is not None else df.columns
    return df.select(*cols, red.alias("redacted"), *counts, total)


def mixture_rebalance(
    df: DataFrame,
    strata_col: str = "source",
    key_col: str = "doc_id",
    salt: str = "sample:v1:",
) -> DataFrame:
    """Per-stratum mixture rebalance to a UNIFORM target by downsampling
    only (the Pile/Dolma-style mixing step): every stratum is sampled at
    rate = min_stratum_count / its_count, so expected post-sample counts
    are equal across strata and the smallest stratum keeps everything.

    Fully distributed — no driver collect: stratum counts are one
    partial-agg groupBy; the 20-odd (stratum, threshold) rows broadcast
    back onto the corpus; the survivor count reuses the
    ``hash_bernoulli_sample`` draw (md5 prefix < rate threshold), so the
    realized sample is deterministic, re-runnable, and engine-portable.

    Returns (stratum, n_docs, rate, sampled_docs).
    """
    counts = df.groupBy(F.col(strata_col).alias("stratum")).agg(
        F.count("*").cast("bigint").alias("n_docs")
    )
    min_n = counts.agg(F.min("n_docs").alias("min_n"))
    rates = counts.crossJoin(F.broadcast(min_n)).select(
        "stratum",
        "n_docs",
        (F.col("min_n").cast("double") / F.col("n_docs")).alias("rate"),
    )
    # rate_threshold_hex as a Column expression (same semantics incl. the
    # 'g' sentinel for rate >= 1 — see rate_threshold_hex docstring)
    thresh = F.when(F.col("rate") >= 1.0, F.lit("g")).otherwise(
        F.lpad(
            F.lower(F.hex(F.floor(F.col("rate") * F.lit(4294967296.0)).cast("bigint"))),
            8,
            "0",
        )
    )
    rates = rates.withColumn("thresh", thresh)
    u = F.substring(
        F.md5(F.concat(F.lit(salt), F.col(key_col).cast("string")).cast("binary")), 1, 8
    )
    drawn = df.select(F.col(strata_col).alias("stratum"), u.alias("u"))
    survivors = (
        drawn.join(F.broadcast(rates.select("stratum", "thresh")), "stratum")
        .where(F.col("u") < F.col("thresh"))
        .groupBy("stratum")
        .agg(F.count("*").cast("bigint").alias("sampled_docs"))
    )
    return (
        rates.join(survivors, "stratum", "left")
        .select(
            "stratum",
            "n_docs",
            F.round("rate", 6).alias("rate"),
            F.coalesce("sampled_docs", F.lit(0)).cast("bigint").alias("sampled_docs"),
        )
    )


def quality_signal_fusion(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-normalized fusion of heterogeneous quality signals (the
    FineWeb/ensemble move: no single filter is trustworthy, so selection
    combines independent families): (1) the prose-likeness heuristic
    (``quality_score_expr``), (2) Gopher repetition (dup-5gram char
    fraction, inverted — repetitive docs are bad), (3) SoftDedup
    commonness (inverted — boilerplate-heavy docs are bad). Each signal is
    min-max normalized over the WHOLE corpus and the fused score is their
    mean.

    Normalization-by-rank would need a global sort; min-max needs one
    6-value aggregate broadcast back — the scale-correct shape (the same
    reason ``token_budget_select`` avoids the global window). Ties in
    determinism: every input signal is already 6-dp-cut, min/max select
    those exact doubles, and the final fuse is floor-6 — bit-stable vs
    the DuckDB oracle.

    Returns (doc_id, quality, rep_frac, commonness, fused); fused ∈ [0,1],
    higher = keep.
    """
    from frappe_data_pipelines_spark.functions.text import quality_score_expr
    from frappe_data_pipelines_spark.operators.dedup import soft_dedup_weights

    qual = docs.select(
        F.col(id_col).alias("doc_id"),
        quality_score_expr(F.col(text_col)).alias("quality"),
    )
    rep = gopher_repetition_metrics(
        docs, top_n=2, dup_n=5, top_frac_max=0.20, dup_frac_max=0.10
    ).select("doc_id", F.col("dup_5gram_char_frac").alias("rep_frac"))
    com = soft_dedup_weights(docs, n=3, id_col=id_col, text_col=text_col).select(
        "doc_id", "commonness"
    )
    # base feeds BOTH the min/max stats aggregate and the final projection;
    # cached so the three signal subtrees (5 corpus scans between them)
    # execute once, not once per consumer. One row per doc, four doubles —
    # strictly smaller than any of its inputs.
    base = (
        qual.join(rep, "doc_id")
        .join(com, "doc_id", "left")
        .withColumn("commonness", F.coalesce("commonness", F.lit(0.0)))
        .cache()
    )
    stats = base.agg(
        F.min("quality").alias("q0"), F.max("quality").alias("q1"),
        F.min("rep_frac").alias("r0"), F.max("rep_frac").alias("r1"),
        F.min("commonness").alias("c0"), F.max("commonness").alias("c1"),
    )

    def norm(x, lo, hi):
        return F.coalesce(
            F.try_divide(F.col(x) - F.col(lo), F.col(hi) - F.col(lo)), F.lit(0.5)
        )

    fused = (
        norm("quality", "q0", "q1")
        + (F.lit(1.0) - norm("rep_frac", "r0", "r1"))
        + (F.lit(1.0) - norm("commonness", "c0", "c1"))
    ) / F.lit(3.0)
    return base.crossJoin(F.broadcast(stats)).select(
        "doc_id",
        "quality",
        "rep_frac",
        "commonness",
        (F.floor(fused * 1_000_000) / 1_000_000).alias("fused"),
    )
