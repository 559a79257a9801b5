"""Data selection for pre-training corpora: DSIR importance weighting.

Implements the hashed-ngram importance-resampling estimator of DSIR (Xie et
al., "Data Selection for Language Models via Importance Resampling",
NeurIPS 2023 — public): score every raw document by the log-likelihood
ratio of a TARGET feature distribution (the data you want more of) against
the RAW distribution (what the crawl actually is), under unigram+bigram
bag-of-ngrams models with Laplace smoothing:

    w(d) = Σ_{f ∈ d} tf_d(f) · [ ln p_tgt(f) − ln p_raw(f) ]
    p(f) = (c(f) + 1) / (N + V)

Spark-first shape — this is a word-count, not an ML job:

- feature extraction is pure Column expressions (tokenize, zip_with
  bigrams, explode) — whole-stage codegen, no UDF;
- the two distributions are groupBy-count aggregates with map-side partial
  combine (one shuffle each, keyed by feature);
- per-doc scoring is one join of the per-(doc,feature) tf table against the
  feature dictionary, then a decimal-summed aggregate back to doc grain.
  Per-feature contributions are round(·,6)-ed and accumulated in
  DECIMAL so the result is associative — identical under any partitioning
  and hash-stable against the DuckDB oracle.

At 100 TB the feature dictionary is the memory risk, not the shuffles: cap
it by hashing features into 2^k buckets (DSIR's actual trick) via
``n_buckets`` — counts then bound at 2^k rows regardless of corpus size.
The catalog query runs unhashed (bucket ids must match the SQL oracle
exactly; xxhash64 has no DuckDB twin); scale runs set n_buckets.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from frappe_data_pipelines_spark.functions.text import tokens_expr


def _ngram_features(text: Column) -> Column:
    """Unigrams + space-joined bigrams of the lowercased word tokens."""
    toks = tokens_expr(text)
    heads = F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0)))
    tails = F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0)))
    bigrams = F.zip_with(heads, tails, lambda a, b: F.concat(a, F.lit(" "), b))
    return F.concat(toks, bigrams)


def dsir_weights(
    docs: DataFrame,
    target: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int | None = None,
) -> DataFrame:
    """Per-document DSIR log-likelihood-ratio weights.

    ``target`` is a boolean Column over ``docs`` selecting the in-domain
    subset whose distribution we steer toward (e.g. ``col('lang') ==
    'en'``, or a quality-score predicate). Returns
    (doc_id, n_features BIGINT, dsir_weight DOUBLE); documents with no
    tokens are excluded (no features → no evidence).

    ``n_buckets``: hash features into 2^k buckets (xxhash64 % n) — bounds
    dictionary size for web-scale corpora at the cost of oracle parity.
    """
    feat = _ngram_features(F.col(text_col))
    tcol = F.col(target) if isinstance(target, str) else target
    # no size(feats) > 0 guard (the non-outer explode drops featureless
    # docs), and the feature expression is INLINED into the explode:
    # either an explicit guard, or the size>0 AND isnotnull predicate
    # InferFiltersFromGenerate adds when the generator child is a bare
    # attribute (SPARK-36715), is pushed into the scan with the whole
    # _ngram_features subtree substituted — re-featurizing every document
    # a second time (r12 plan audit). Inline explode plans no such filter.
    exploded = docs.select(
        F.col(id_col).alias("doc_id"), tcol.alias("is_target"), F.explode(feat).alias("f")
    )
    if n_buckets is not None:
        exploded = exploded.withColumn("f", F.pmod(F.xxhash64("f"), F.lit(n_buckets)).cast("string"))
    tf = exploded.groupBy("doc_id", "is_target", "f").agg(F.count("*").alias("tf"))

    raw = tf.groupBy("f").agg(F.sum("tf").alias("c_raw"))
    tgt = tf.filter("is_target").groupBy("f").agg(F.sum("tf").alias("c_tgt"))
    dictionary = raw.join(tgt, "f", "left").select(
        "f", "c_raw", F.coalesce("c_tgt", F.lit(0)).alias("c_tgt")
    )
    stats = dictionary.agg(
        F.sum("c_raw").alias("n_raw"),
        F.sum("c_tgt").alias("n_tgt"),
        F.count("*").alias("v"),
    )
    scored = dictionary.crossJoin(F.broadcast(stats)).select(
        "f",
        F.round(
            F.log((F.col("c_tgt") + F.lit(1.0)) / (F.col("n_tgt") + F.col("v")))
            - F.log((F.col("c_raw") + F.lit(1.0)) / (F.col("n_raw") + F.col("v"))),
            6,
        )
        .cast("decimal(18,6)")
        .alias("lr"),
    )
    return (
        tf.join(scored, "f")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_features"),
            (F.sum(F.col("tf").cast("decimal(10,0)") * F.col("lr")))
            .cast("double")
            .alias("dsir_weight"),
        )
        .select("doc_id", "n_features", F.round("dsir_weight", 6).alias("dsir_weight"))
    )


def dsir_select(
    docs: DataFrame,
    target: Column,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k raw documents by DSIR weight (deterministic tie-break by id) —
    the selected training subset. DSIR proper resamples with Gumbel noise;
    top-k is the deterministic variant (their 'top-k heuristic' baseline),
    which is what an oracled, reproducible pipeline wants."""
    w = dsir_weights(docs, target, id_col=id_col, text_col=text_col)
    return (
        w.orderBy(F.col("dsir_weight").desc(), F.col("doc_id").asc())
        .limit(k)
        .select("doc_id", "n_features", "dsir_weight")
    )


def _doc_term_freq(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-(doc, word) term frequencies — the relation every unigram-LM
    scorer here joins against."""
    from frappe_data_pipelines_spark.sources.tables import spread_scan

    toks = tokens_expr(F.col(text_col))
    # spread first: the explode below is the CPU-heavy step and a single
    # small input file would otherwise pin it to one core (no-op at scale)
    return (
        spread_scan(docs.select(F.col(id_col), F.col(text_col)))
        .select(F.col(id_col), F.explode(toks).alias("w"))
        .groupBy(id_col, "w")
        .agg(F.count("*").cast("bigint").alias("tf"))
    )


def _unigram_lm_scores(
    tf: DataFrame,
    docs: DataFrame,
    pred: Column,
    id_col: str,
    score_name: str,
    what: str,
) -> DataFrame:
    """Average token log-probability per document under a unigram LM
    word-counted from the ``pred`` slice, with add-one smoothing for OOV.
    THE one home of the determinism discipline: per-word log-probs are
    round(·,6) DECIMALs so per-doc sums are associative under any
    partitioning — hash-stable vs the DuckDB oracles. No broadcast hints:
    a slice can be most of the corpus (Moore-Lewis' general LM), so join
    strategy is left to AQE's runtime sizes. Raises when the slice is
    empty — an empty training slice would otherwise propagate NULL scores
    to every row."""
    ids = docs.filter(pred).select(id_col)
    from frappe_data_pipelines_spark.operators.guards import collect_bounded

    if not collect_bounded(ids.limit(1), 2, f"{what} slice probe"):
        raise ValueError(
            f"{what} matches no documents — cannot train its unigram LM"
        )
    counts = (
        tf.join(ids, id_col, "left_semi")
        .groupBy("w")
        .agg(F.sum("tf").alias("c"))
    )
    stats = counts.agg(F.sum("c").alias("n"), F.count("*").alias("v"))
    scored = counts.crossJoin(F.broadcast(stats)).select(
        "w",
        F.round(F.log((F.col("c") + 1.0) / (F.col("n") + F.col("v"))), 6)
        .cast("decimal(18,6)")
        .alias("lp"),
    )
    oov = F.round(F.log(1.0 / (F.col("n") + F.col("v"))), 6).cast(
        "decimal(18,6)"
    )
    return (
        tf.join(scored, "w", "left")
        .crossJoin(F.broadcast(stats))
        .select(id_col, "tf", F.coalesce(F.col("lp"), oov).alias("lp"))
        .groupBy(id_col)
        .agg(
            F.sum("tf").cast("bigint").alias("n_tokens"),
            # divide as DOUBLE on both engines: decimal-division scale
            # rules differ between Spark and DuckDB at the last digit
            F.round(
                F.sum(F.col("tf").cast("decimal(10,0)") * F.col("lp"))
                .cast("double") / F.sum("tf"),
                6,
            ).alias(score_name),
        )
    )


def _global_ntile(df: DataFrame, sort_exprs: list, n_buckets: int, out: str) -> DataFrame:
    """EXACT SQL ntile(n) over a total order WITHOUT an unpartitioned
    window: range-repartition by the order (so partition ids follow it),
    row_number within each partition, add the cumulative size of earlier
    partitions for the 1-based global position, then the SQL-standard
    ntile bucket in closed form from (position, total) — the first
    ``total mod n`` buckets hold ``total div n + 1`` rows, the rest
    ``total div n``. Same machinery as suffix.py:_global_dense_rank; the
    only windows here key a one-row-per-shuffle-partition relation, so
    their single partition is bounded by cluster width, never by data.
    Results are independent of where the range sampler places boundaries
    (positions are boundary-invariant for a unique total order), so the
    output is deterministic and identical to a global ntile window."""
    from pyspark.sql.window import Window

    spark = df.sparkSession
    n_parts = spark.sparkContext.defaultParallelism
    ordered = df.repartitionByRange(n_parts, *sort_exprs).withColumn(
        "__pid", F.spark_partition_id()
    )
    local = ordered.withColumn(
        "__lrn",
        F.row_number().over(Window.partitionBy("__pid").orderBy(*sort_exprs)),
    )
    from frappe_data_pipelines_spark.operators.guards import bounded_window_key

    # the offsets relation is one row per shuffle partition (bounded by
    # cluster width, never by data) — bounded_window_key declares that
    one_row_per_part = Window.partitionBy(bounded_window_key("__pid"))
    offs = (
        local.groupBy("__pid")
        .agg(F.count("*").alias("__cnt"))
        .withColumn(
            "__off",
            F.coalesce(
                F.sum("__cnt").over(
                    one_row_per_part.orderBy("__pid").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .withColumn("__n", F.sum("__cnt").over(one_row_per_part))
        .select("__pid", "__off", "__n")
    )
    # integer ceil-division via `div` (never a double detour); the
    # base == 0 case (fewer rows than buckets) always takes the first
    # branch because cap == total there
    return (
        local.join(F.broadcast(offs), "__pid")
        .withColumn("__pos", (F.col("__off") + F.col("__lrn")).cast("long"))
        .withColumn("__base", F.expr(f"__n div {n_buckets}"))
        .withColumn("__cap", (F.col("__n") % n_buckets) * (F.col("__base") + 1))
        .withColumn(
            out,
            F.when(
                F.col("__pos") <= F.col("__cap"),
                F.expr("(__pos + __base) div (__base + 1)"),
            )
            .otherwise(
                F.col("__n") % n_buckets
                + F.expr("(__pos - __cap + __base - 1) div __base")
            )
            .cast("int"),
        )
        .drop("__pid", "__lrn", "__off", "__n", "__pos", "__base", "__cap")
    )


def lm_perplexity_buckets(
    docs: DataFrame,
    ref_pred: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 3,
) -> DataFrame:
    """CCNet-style LM quality bucketing (Wenzek et al. 2020, public): score
    every document by its average token log-probability under a unigram LM
    trained on a reference subset (``ref_pred`` — CCNet uses Wikipedia;
    here any boolean Column over ``docs``), then split the corpus into
    ``n_buckets`` perplexity buckets — head / middle / tail for the default
    3 — by ranked score. Tail pruning or per-bucket mixture weights are the
    standard downstream moves.

    Spark-first shape: the LM is a word-count aggregate (one shuffle,
    map-side combined); scoring is one join of per-(doc,word) tf against
    the dictionary; add-one smoothing covers OOV. Per-word contributions
    are round(·,6)-ed and accumulated in DECIMAL so the sum is associative
    — identical under any partitioning, hash-stable vs the DuckDB oracle.
    The bucket split is an EXACT ntile over the deterministic (score desc,
    id asc) total order computed by ``_global_ntile`` — range-partitioned
    global positions plus the closed-form bucket boundary, never a
    single-partition global window (the old shape serialized the whole
    corpus through one WindowExec task at scale). At 100 TB also cap the
    dictionary by frequency or hash-bucket it (the DSIR trick above)."""
    tf = _doc_term_freq(docs, id_col, text_col)
    per_doc = _unigram_lm_scores(
        tf, docs, ref_pred, id_col, "lm_score", "ref_pred"
    )
    bucketed = _global_ntile(
        per_doc,
        [F.col("lm_score").desc(), F.col(id_col).asc()],
        n_buckets,
        "__bucket",
    )
    bucket = F.col("__bucket")
    label = bucket.cast("string") if n_buckets != 3 else (
        F.when(bucket == 1, "head").when(bucket == 2, "middle").otherwise("tail")
    )
    return bucketed.select(
        id_col, "n_tokens", "lm_score", label.alias("ppl_bucket")
    )



def moore_lewis_scores(
    docs: DataFrame,
    in_pred: Column,
    out_pred: Column | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.0,
) -> DataFrame:
    """Moore-Lewis cross-entropy-difference selection (Moore & Lewis 2010,
    "Intelligent Selection of Language Model Training Data", public): score
    every document by H_in(d) - H_out(d) — its cross-entropy under a
    unigram LM trained on the IN-DOMAIN slice (``in_pred``) minus the one
    under a GENERAL LM (``out_pred``, default the complement) — and select
    documents whose difference is below ``threshold``. Lower means "looks
    like the target domain, not merely generically fluent": the classic
    domain-adaptation data filter.

    Spark-first shape: both LMs are word-count shuffles joining the SAME
    per-(doc, word) tf relation through ``_unigram_lm_scores`` (shared
    with ``lm_perplexity_buckets`` — one home for the round(·,6) DECIMAL
    determinism discipline and the add-one OOV smoothing). No broadcast
    hints anywhere: the general slice is typically most of the corpus, so
    join strategies are AQE's call. Empty slices raise instead of
    propagating NULL scores. At 100 TB cap each dictionary by frequency
    or hash-bucket it (the DSIR trick); everything else already scales —
    no window, no unbounded collect.

    Returns (id, n_tokens, lm_in, lm_out, ce_diff, selected): lm_* are the
    average token log-probs (H = -lm), ce_diff = round(lm_out - lm_in, 6),
    selected = ce_diff < threshold.
    """
    if out_pred is None:
        out_pred = ~in_pred
    tf = _doc_term_freq(docs, id_col, text_col)
    lm_in = _unigram_lm_scores(tf, docs, in_pred, id_col, "lm_in", "in_pred")
    lm_out = _unigram_lm_scores(
        tf, docs, out_pred, id_col, "lm_out", "out_pred"
    ).drop("n_tokens")
    diff = F.round(F.col("lm_out") - F.col("lm_in"), 6)
    return (
        lm_in.join(lm_out, id_col)
        .select(
            id_col, "n_tokens", "lm_in", "lm_out",
            diff.alias("ce_diff"),
            (diff < F.lit(threshold)).alias("selected"),
        )
    )


def kneser_ney_bigram_scores(
    docs: DataFrame,
    ref_pred: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    discount: float = 0.75,
) -> DataFrame:
    """Interpolated Kneser-Ney bigram LM scoring (Kneser & Ney 1995; the
    interpolated form of Chen & Goodman 1998, public). CCNet's production
    quality filter is a KenLM n-gram model with modified KN smoothing
    (Wenzek et al. 2020; Heafield 2011); this is the canonical bigram
    member of that family, trained distributed and scored distributed:

        P(w|u)      = (max(c(u,w) - D, 0) + D * N1+(u*) * Pcont(w)) / c(u)
        Pcont(w)    = (N1+(*w) + 1) / (B + V + 1)     [add-one for OOV]
        unseen u    → P(w|u) = Pcont(w)

    with c(u,w) bigram counts from the reference slice (``ref_pred``),
    N1+(u*) the context fertility (distinct continuations of u), N1+(*w)
    the continuation count (distinct contexts preceding w), B the number
    of distinct bigram types and V the continuation vocabulary. The
    KN insight — score a word by how many contexts it FOLLOWS, not how
    often it occurs — is what kills repeated-boilerplate corpora that
    fool plain frequency LMs ("San Francisco" inflating "Francisco").

    Spark-first shape: training is three groupBy aggregates over one
    bigram relation (all map-side combined, one shuffle each, keyed by
    u / w / (u,w)); scoring is three left joins of the per-(doc,u,w) tf
    relation against those dictionaries plus one broadcast stats row.
    No broadcast hints on the dictionaries — the reference slice can be
    most of the corpus, so sizes are AQE's call. Per-transition log-probs
    are round(·,6) DECIMALs so per-doc sums are associative under any
    partitioning — hash-stable vs the DuckDB oracle (the discipline of
    ``_unigram_lm_scores``). At 100 TB the bigram dictionary is the
    memory term: cap it by count pruning (c(u,w) >= k) or hash-bucketing
    (the DSIR trick) — the plan shape is unchanged.

    Returns (id, n_transitions BIGINT, kn_score DOUBLE) over documents
    with >= 2 tokens; kn_score is the average transition log-prob
    (perplexity = exp(-kn_score)).
    """
    from frappe_data_pipelines_spark.operators.guards import collect_bounded

    # tfb feeds BOTH training (via bi) and scoring, and bi feeds four
    # consumers (ctx, cont, the B stat, the scoring join) — without
    # caching, Catalyst re-executes the tokenize→explode→groupBy subtree
    # once per consumer (measured: 6 FileScans, 6 Generates, 0 reused
    # exchanges). Cache both: tfb is one row per (doc, bigram type),
    # bi one per reference bigram type — the same dictionaries that must
    # fit for the joins to run at all, so the cache adds no new memory
    # constraint at scale.
    tfb = _kn_doc_bigram_tf(
        docs, id_col, text_col, extra=[("is_ref", ref_pred)]
    ).cache()
    bi = (
        tfb.filter("is_ref")
        .groupBy("u", "w")
        .agg(F.sum("tf").cast("bigint").alias("c"))
        .cache()
    )
    # the probe doubles as the cache-priming job: materializing bi (and
    # tfb under it) BEFORE the scoring job runs means the four downstream
    # consumers all hit a populated cache — probing a cheaper relation was
    # measured SLOWER (the consumers then race to populate the cache
    # inside one job, each recomputing the subtree)
    if not collect_bounded(bi.limit(1), 2, "KN reference-slice probe"):
        raise ValueError(
            "ref_pred yields no bigrams — cannot train the Kneser-Ney LM"
        )
    ctx = bi.groupBy("u").agg(
        F.sum("c").cast("bigint").alias("c_u"),
        F.count("*").cast("bigint").alias("n1p_u"),
    )
    cont = bi.groupBy("w").agg(F.count("*").cast("bigint").alias("n1p_w"))
    stats = bi.agg(F.count("*").alias("b")).crossJoin(
        cont.agg(F.count("*").alias("v"))
    )
    joined = (
        tfb.join(bi, ["u", "w"], "left")
        .join(ctx, "u", "left")
        .join(cont, "w", "left")
        .crossJoin(F.broadcast(stats))
    )
    return _kn_score_core(joined, discount, id_col)


def _kn_score_core(joined, discount: float, id_col: str) -> DataFrame:
    """Shared KN scoring arithmetic over a pre-joined relation with
    columns (id_col, tf, c, c_u, n1p_u, n1p_w, b, v) — the uncached
    trainer and the persisted-LM server must produce bit-identical
    doubles (both share the DuckDB oracle), so the math lives once."""
    d = F.lit(float(discount))
    scored = (
        joined.withColumn(
            "pcont",
            (F.coalesce("n1p_w", F.lit(0)) + F.lit(1.0))
            / (F.col("b") + F.col("v") + F.lit(1.0)),
        )
        .withColumn(
            "p",
            F.when(
                F.coalesce("c_u", F.lit(0)) > 0,
                (
                    F.greatest(
                        F.coalesce("c", F.lit(0)).cast("double") - d, F.lit(0.0)
                    )
                    + d * F.col("n1p_u") * F.col("pcont")
                )
                / F.col("c_u"),
            ).otherwise(F.col("pcont")),
        )
        .select(
            id_col,
            "tf",
            F.round(F.log("p"), 6).cast("decimal(18,6)").alias("lp"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.sum("tf").cast("bigint").alias("n_transitions"),
        F.round(
            F.sum(F.col("tf").cast("decimal(10,0)") * F.col("lp")).cast("double")
            / F.sum("tf"),
            6,
        ).alias("kn_score"),
    )


def _kn_doc_bigram_transitions(
    docs: DataFrame, id_col: str, text_col: str, extra: list | None = None
) -> DataFrame:
    """(id, [extra...], u, w): one row per bigram TRANSITION (token
    position), before any aggregation. Spread the RAW rows first,
    tokenize + build bigrams AFTER the exchange: a small one-file corpus
    scans as ONE partition, so anything computed below the spread
    shuffle (the r11 shape tokenized there) runs serially on one core
    while the rest idle. Post-exchange, tokenize + zip_with + explode
    land on every core."""
    from frappe_data_pipelines_spark.sources.tables import spread_scan

    extra = extra or []
    tk = spread_scan(
        docs.select(
            F.col(id_col),
            *[e.alias(n) for n, e in extra],
            F.col(text_col).alias("__kn_text"),
        )
    ).select(
        F.col(id_col),
        *[F.col(n) for n, _ in extra],
        tokens_expr(F.col("__kn_text")).alias("toks"),
    )
    names = [n for n, _ in extra]
    toks = F.col("toks")
    heads = F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0)))
    tails = F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0)))
    pairs = F.zip_with(
        heads, tails, lambda a, b: F.struct(a.alias("u"), b.alias("w"))
    )
    # The pairs expression is INLINED into the explode — never
    # materialized as its own column — because InferFiltersFromGenerate
    # only infers a size(c)>0 AND isnotnull(c) predicate when the
    # generator child is a bare attribute (SPARK-36715); an explicit
    # size(ps)>0 guard, or the inferred twin an `explode(ps)` attribute
    # form provokes, gets pushed below the spread shuffle into the SCAN
    # with the whole tokenize+zip_with subtree substituted — a second,
    # serialized tokenize pass over the corpus on the pre-spread (often
    # single) scan partition (r12 plan audit). The inline form plans
    # zero scan-side filters; empty/null pair arrays simply generate no
    # rows, so dropping the guard does not change the result. ``toks``
    # stays a materialized column of the projection below (CollapseProject
    # refuses to merge it — a non-cheap expr referenced 4x, SPARK-36718),
    # so the corpus is tokenized exactly once, post-exchange, in parallel.
    return tk.select(id_col, *names, F.explode(pairs).alias("p")).select(
        id_col, *names, F.col("p.u").alias("u"), F.col("p.w").alias("w")
    )


def _kn_doc_bigram_tf(
    docs: DataFrame, id_col: str, text_col: str, extra: list | None = None
) -> DataFrame:
    """(id, [extra...], u, w, tf): per-document bigram term frequencies —
    the relation KN training consumes (single consumers evaluate the
    tokenize split exactly once, and the multi-consumer trainer caches
    the aggregated tfb relation — one tokenize per cache populate)."""
    names = [n for n, _ in (extra or [])]
    return (
        _kn_doc_bigram_transitions(docs, id_col, text_col, extra)
        .groupBy(id_col, *names, "u", "w")
        .agg(F.count("*").cast("bigint").alias("tf"))
    )


def kn_write(
    docs: DataFrame,
    ref_pred: Column,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    discount: float = 0.75,
) -> dict:
    """BUILD half of the Kneser-Ney build/serve split: train the bigram
    LM on the reference slice and persist it — ``bi`` (u, w, c), ``ctx``
    (u, c_u, n1p_u), ``cont`` (w, n1p_w) as parquet under ``path`` plus a
    ``_kn_meta.json`` sidecar with the corpus-level stats (B bigram
    types, V continuation vocabulary) and the training config
    (discount), validated at serve time. An LM is trained once per
    reference corpus and scores every arriving batch thereafter — paying
    the three training shuffles per scoring query (what
    ``kneser_ney_bigram_scores`` does, kept as the oracle twin)
    misprices the engine the same way rebuilding the suffix index per
    ∞-gram query did (VERDICT r11 task 2/3 lesson; same lifecycle as
    operators/ann.py:sq_write). Counts are exact integers and the
    per-dictionary layouts are keyed aggregates — a serving process's
    scores hash-match a from-scratch run, which is what lets the cached
    catalog query share the uncached one's DuckDB oracle. Returns the
    meta dict."""
    import json as _json
    import os as _os

    from frappe_data_pipelines_spark.operators.guards import collect_bounded

    tfb = _kn_doc_bigram_tf(
        docs.filter(ref_pred), id_col, text_col
    )
    bi = (
        tfb.groupBy("u", "w")
        .agg(F.sum("tf").cast("bigint").alias("c"))
        .cache()
    )
    if not collect_bounded(bi.limit(1), 2, "KN reference-slice probe"):
        raise ValueError(
            "ref_pred yields no bigrams — cannot train the Kneser-Ney LM"
        )
    ctx = bi.groupBy("u").agg(
        F.sum("c").cast("bigint").alias("c_u"),
        F.count("*").cast("bigint").alias("n1p_u"),
    )
    cont = bi.groupBy("w").agg(F.count("*").cast("bigint").alias("n1p_w"))
    st = collect_bounded(
        bi.agg(F.count("*").alias("b")).crossJoin(
            cont.agg(F.count("*").alias("v"))
        ),
        2,
        "KN corpus stats",
    )
    meta = {
        "b": int(st[0]["b"]),
        "v": int(st[0]["v"]),
        "discount": float(discount),
        "text_col": text_col,
    }
    # Publish atomically: build the whole index in a tmp sibling (meta
    # written last inside it), then swap the directory into place — a
    # reader never sees a half-written LM under the final name, and a
    # concurrent rebuild of the same path is a loud read error or a
    # last-write-win, never silently mixed dictionaries (the fp-cache
    # commit discipline, api.py scrub_incoming / ADVICE r10+r11).
    import shutil as _shutil

    tmp = path.rstrip("/") + f".tmp-{_os.getpid()}"
    try:
        # dictionary sizes are vocabulary-scale (≤ a few hundred MB even
        # for web-corpus vocabularies), so small fixed file counts keep
        # serving scans free of near-empty task launches
        bi.repartition(4).write.mode("overwrite").parquet(
            _os.path.join(tmp, "bi")
        )
        ctx.repartition(1).write.mode("overwrite").parquet(
            _os.path.join(tmp, "ctx")
        )
        cont.repartition(1).write.mode("overwrite").parquet(
            _os.path.join(tmp, "cont")
        )
        with open(_os.path.join(tmp, "_kn_meta.json"), "w") as f:
            _json.dump(meta, f)
        for attempt in range(3):
            if _os.path.isdir(path):
                _shutil.rmtree(path, ignore_errors=True)
            try:
                _os.rename(tmp, path)
                break
            except OSError:
                # a racing writer recreated `path` between our rmtree and
                # rename; both writers derive the identical LM from the
                # same corpus+config, so after the retries, losing the
                # rename is winning the cache — adopt theirs (validated
                # below), never leave a half-published dir
                if attempt == 2:
                    with open(_os.path.join(path, "_kn_meta.json")) as f:
                        theirs = _json.load(f)
                    if theirs.get("discount") != meta["discount"]:
                        raise ValueError(
                            "concurrent kn_write at the same path used "
                            f"discount={theirs.get('discount')} — give "
                            "concurrent writers distinct paths"
                        )
                    meta = theirs
    finally:
        bi.unpersist()
        _shutil.rmtree(tmp, ignore_errors=True)
    return meta


def kn_read_score(
    spark,
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    discount: float | None = None,
) -> DataFrame:
    """QUERY half of the KN split: score a corpus against the PERSISTED
    LM — no training aggregates, no reference-slice scan; one bigram-tf
    aggregate over the scoring docs plus three dictionary joins (sizes
    are AQE's broadcast call), with (B, V) read from the sidecar as
    literals instead of a stats crossJoin. Same arithmetic core as the
    trainer (``_kn_score_core``) so persisted == from-scratch on the
    full scored output. ``discount``, if given, must match the persisted
    LM's — a mismatched request is a config error, not a silent
    rescale (the scrub-config-stamp discipline of operators/dedup.py)."""
    bi, ctx, cont, meta = kn_load(spark, path)
    if discount is not None and float(discount) != meta["discount"]:
        raise ValueError(
            f"persisted KN LM was trained with discount={meta['discount']}"
            f" but discount={discount} was requested — rebuild or drop"
            " the override"
        )
    return kn_score_against(
        docs, bi, ctx, cont, meta, id_col=id_col, text_col=text_col
    )


def _parquet_uncompressed_bytes(table_dir: str) -> int:
    """Sum of the row groups' uncompressed ``total_byte_size`` over every
    parquet footer under ``table_dir``: footers only, no scan."""
    import os as _os

    import pyarrow.parquet as pq

    total = 0
    for root, _, fns in _os.walk(table_dir):
        for fn in fns:
            if fn.endswith(".parquet"):
                md = pq.read_metadata(_os.path.join(root, fn))
                total += sum(md.row_group(i).total_byte_size for i in range(md.num_row_groups))
    return total


def kn_load(spark, path: str):
    """Load a persisted KN LM: (bi, ctx, cont, meta). Schema-specified
    parquet reads (no footer-inference job). Split out of
    ``kn_read_score`` so long-lived consumers (the streaming ingest
    door) can load + persist the dictionaries ONCE for a stream's
    lifetime instead of re-planning the reads per micro-batch."""
    import json as _json
    import os as _os

    with open(_os.path.join(path, "_kn_meta.json")) as f:
        meta = _json.load(f)
    bi = spark.read.schema("u string, w string, c bigint").parquet(
        _os.path.join(path, "bi")
    )
    ctx = spark.read.schema(
        "u string, c_u bigint, n1p_u bigint"
    ).parquet(_os.path.join(path, "ctx"))
    cont = spark.read.schema("w string, n1p_w bigint").parquet(
        _os.path.join(path, "cont")
    )
    # stamp the LM's uncompressed size so scoring can decide whether the
    # dictionaries fit a broadcast (kn_score_against's map-side fast
    # path) without an extra Spark job; compressed file bytes understate
    # what the broadcast holds
    meta = dict(meta)
    meta["_lm_bytes"] = sum(
        _parquet_uncompressed_bytes(_os.path.join(path, sub))
        for sub in ("bi", "ctx", "cont")
    )
    return bi, ctx, cont, meta


def kn_score_against(
    docs: DataFrame,
    bi: DataFrame,
    ctx: DataFrame,
    cont: DataFrame,
    meta: dict,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Score ``docs`` against already-loaded LM dictionaries (see
    ``kn_load``), (B, V) as literals from ``meta``. Docs with fewer than
    two tokens have no transitions and are absent from the output
    (callers gating on the score must treat them as unassessable, not
    failing).

    Two shapes, same result (r13, guide §2.4/§3.1). When the persisted
    LM fits a broadcast (``meta["_lm_bytes"]``, its uncompressed parquet
    row-group bytes, under ``FDP_KN_BROADCAST_MAX_BYTES``, default 256 MB
    — inside the guide's few-hundred-MB comfort zone),
    score at TRANSITION level: explode bigrams, probe the three
    broadcast dictionaries map-side, partial-aggregate per doc — the
    per-(doc,u,w) tf aggregate's full-corpus exchange disappears and the
    one remaining shuffle moves one partial row per (doc, partition)
    instead of one row per bigram type. Each transition contributes its
    round(log p, 6) DECIMAL term exactly once (tf=1), so the per-doc sum
    is the same multiset sum the tf-weighted form computes —
    hash-identical output (both shapes share the DuckDB oracle). When
    the LM is too big to broadcast (or its size is unknown — direct
    callers passing hand-built dictionaries), keep the tf-aggregated
    relation so the dictionary joins shuffle one row per bigram TYPE,
    not per occurrence."""
    import os as _os

    max_bc = int(
        _os.environ.get("FDP_KN_BROADCAST_MAX_BYTES", str(256 << 20))
    )
    size = meta.get("_lm_bytes")
    if size is not None and size <= max_bc:
        tr = _kn_doc_bigram_transitions(docs, id_col, text_col).withColumn(
            "tf", F.lit(1).cast("bigint")
        )
        joined = (
            tr.join(F.broadcast(bi), ["u", "w"], "left")
            .join(F.broadcast(ctx), "u", "left")
            .join(F.broadcast(cont), "w", "left")
            .withColumn("b", F.lit(int(meta["b"])).cast("bigint"))
            .withColumn("v", F.lit(int(meta["v"])).cast("bigint"))
        )
        return _kn_score_core(joined, meta["discount"], id_col)
    tfb = _kn_doc_bigram_tf(docs, id_col, text_col)
    joined = (
        tfb.join(bi, ["u", "w"], "left")
        .join(ctx, "u", "left")
        .join(cont, "w", "left")
        .withColumn("b", F.lit(int(meta["b"])).cast("bigint"))
        .withColumn("v", F.lit(int(meta["v"])).cast("bigint"))
    )
    return _kn_score_core(joined, meta["discount"], id_col)


def unimax_language_budgets(
    docs: DataFrame,
    total_budget: int,
    max_epochs: int = 2,
    lang_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """UniMax language sampling (Chung et al. 2023, "UniMax: Fairer and
    More Effective Language Sampling for Large-Scale Multilingual
    Pretraining", public): allocate a total training-token budget across
    languages by water-filling under a per-language epoch cap — every
    language gets an equal share of the remaining budget unless its whole
    corpus repeated ``max_epochs`` times is smaller, in which case it gets
    exactly that cap and the surplus is redistributed. The fix for both
    failure modes of temperature sampling: head languages can't swallow
    the budget, tail languages can't be repeated into memorization.

    The paper's greedy (smallest corpus first, equal share of what's
    left) is exactly the water-filling solution, so it needs no loop:
    with languages sorted by cap ascending, language i is saturated iff
        cap_i * (n - i + 1) <= B - presum_i
    (pure INTEGER arithmetic — cross-engine exact), and every
    unsaturated language receives the common water level
        theta = (B - sum(saturated caps)) / n_unsaturated.

    Spark-first shape: ONE map-side-combined groupBy computes per-language
    token counts; the windows after it run over one row per language (a
    bounded relation at any corpus size — there are thousands of
    languages, not billions), so the global sort the water-fill implies
    is free. Returns one row per language: n_docs, n_tokens, cap_tokens,
    budget_tokens (round 6), epochs (budget / corpus size, round 6).
    """
    from pyspark.sql.window import Window

    counts = (
        docs.select(
            F.col(lang_col).alias("lang"),
            F.size(tokens_expr(F.col(text_col))).cast("bigint").alias("nt"),
        )
        .groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("nt").cast("bigint").alias("n_tokens"),
        )
        .filter(F.col("n_tokens") > 0)
        .withColumn("cap_tokens", (F.lit(int(max_epochs)) * F.col("n_tokens")).cast("bigint"))
    )
    from frappe_data_pipelines_spark.operators.guards import bounded_window_key

    # one row per LANGUAGE — bounded at any corpus size; the constant
    # bounded_window_key keeps the single partition declared (a bare
    # lit() key is constant-folded out of the spec and reads as a global
    # window to both Spark's WindowExec warning and the planlint rule)
    w = Window.partitionBy(bounded_window_key("lang")).orderBy(
        F.col("cap_tokens").asc(), F.col("lang").asc()
    )
    wall = Window.partitionBy(bounded_window_key("lang"))
    b = F.lit(int(total_budget))
    ranked = (
        counts.withColumn("i", F.row_number().over(w))
        .withColumn(
            "presum",
            F.coalesce(
                F.sum("cap_tokens").over(w.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            ),
        )
        .withColumn("n", F.count("*").over(wall))
        .withColumn(
            "saturated",
            F.col("cap_tokens") * (F.col("n") - F.col("i") + 1) <= b - F.col("presum"),
        )
    )
    levels = ranked.withColumn(
        "sat_sum",
        F.coalesce(
            F.sum(F.when(F.col("saturated"), F.col("cap_tokens"))).over(wall),
            F.lit(0),
        ),
    ).withColumn(
        "n_unsat", F.sum(F.when(~F.col("saturated"), 1).otherwise(0)).over(wall)
    )
    budget = F.when(F.col("saturated"), F.col("cap_tokens").cast("double")).otherwise(
        (b - F.col("sat_sum")).cast("double") / F.col("n_unsat")
    )
    return levels.select(
        "lang",
        "n_docs",
        "n_tokens",
        "cap_tokens",
        F.round(budget, 6).alias("budget_tokens"),
        F.round(budget / F.col("n_tokens"), 6).alias("epochs"),
    )


def token_budget_select(
    docs: DataFrame,
    budget_tokens: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-ranked corpus selection under a token budget — "give me the
    best N tokens" (the curation step after scoring: fill the training
    budget from the top of the quality ranking; cf. DSIR's resampling and
    every data-mix ablation that fixes token counts).

    Score: stopword ratio rounded to 4 decimals (a deterministic quality
    proxy sharing the engine's tokenizer); rank by (score DESC, id ASC);
    keep documents while the running token total stays within
    ``budget_tokens``.

    Exact WITHOUT a global sort: scores are quantized, so (1) one
    partial-agged groupBy sums tokens per score bucket (≤ 10⁴+1 rows
    regardless of corpus size), (2) a bounded driver cumsum over the
    bucket table picks the threshold score and the residual budget inside
    the boundary bucket, (3) whole buckets above the threshold are kept by
    a broadcast-join filter and the boundary bucket alone pays a windowed
    cumsum — partitioned BY the boundary score, not global. Identical
    output to the textbook global-window cumsum (the oracle states that
    form), but every stage is distributed and the driver holds only the
    bucket table."""
    from frappe_data_pipelines_spark.functions.text import STOPWORDS, tokens_expr
    from frappe_data_pipelines_spark.operators.guards import collect_bounded
    from pyspark.sql import Window

    toks = tokens_expr(F.col(text_col))
    n_stop = F.size(
        F.filter(toks, lambda t: F.array_contains(F.lit(STOPWORDS).cast("array<string>"), t))
    )
    scored = (
        docs.select(
            F.col(id_col),
            F.size(toks).cast("long").alias("n_tokens"),
            F.round(n_stop / F.size(toks), 4).alias("score"),
        )
        .filter(F.col("n_tokens") > 0)
    )
    buckets = collect_bounded(
        scored.groupBy("score").agg(F.sum("n_tokens").alias("bucket_tokens")),
        cap=10_002,
        what="token-budget score buckets",
    )
    buckets.sort(key=lambda r: -r["score"])
    spent = 0
    threshold, residual = None, 0
    for b in buckets:
        if spent + b["bucket_tokens"] <= budget_tokens:
            spent += b["bucket_tokens"]
            continue
        threshold, residual = b["score"], budget_tokens - spent
        break
    if threshold is None:  # whole corpus fits
        return scored
    kept_whole = scored.filter(F.col("score") > threshold)
    w = (
        Window.partitionBy("score")
        .orderBy(F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    boundary = (
        scored.filter(F.col("score") == threshold)
        .withColumn("__cum", F.sum("n_tokens").over(w))
        .filter(F.col("__cum") <= residual)
        .drop("__cum")
    )
    return kept_whole.unionByName(boundary)


def temperature_mixture_weights(
    docs: DataFrame,
    alpha: float = 0.3,
    lang_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Temperature-based language sampling (the multilingual-pretraining
    standard before UniMax: XLM-R, Conneau et al. 2020 §3.1; mT5, Xue et
    al. 2021 §3.2): sample language l with probability q_l ∝ n_l^alpha,
    flattening the natural distribution p_l = n_l / N so head languages
    stop dominating and tail languages surface. alpha=0.3 is the XLM-R
    setting; alpha=1 is natural sampling, alpha=0 uniform.

    Shape: the same ONE map-side-combined per-language token count
    ``unimax_language_budgets`` uses, then per-row arithmetic against two
    whole-relation scalars (token total + temperature partition function)
    computed over the bounded one-row-per-language relation. Cross-engine
    determinism: pow() is rounded to 6 decimals per language and summed in
    DECIMAL, so the partition function is exact in any summation order.

    Returns one row per language: n_docs, n_tokens, share_natural (p_l),
    share_temperature (q_l), boost (q_l / p_l — the up/down-sampling
    factor a mixture executor applies to that language).
    """
    from pyspark.sql.window import Window

    from frappe_data_pipelines_spark.functions.text import tokens_expr

    counts = (
        docs.select(
            F.col(lang_col).alias("lang"),
            F.size(tokens_expr(F.col(text_col))).cast("bigint").alias("nt"),
        )
        .groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("nt").cast("bigint").alias("n_tokens"),
        )
        .filter(F.col("n_tokens") > 0)
        .withColumn(
            "qpow",
            F.round(F.pow(F.col("n_tokens").cast("double"), F.lit(float(alpha))), 6)
            .cast("decimal(28,6)"),
        )
    )
    from frappe_data_pipelines_spark.operators.guards import bounded_window_key

    # one row per language — bounded by construction (see unimax above)
    wall = Window.partitionBy(bounded_window_key("lang"))
    scaled = counts.withColumn(
        "zt", F.sum("qpow").over(wall).cast("double")
    ).withColumn("total", F.sum("n_tokens").over(wall).cast("double"))
    p = F.col("n_tokens").cast("double") / F.col("total")
    q = F.col("qpow").cast("double") / F.col("zt")
    return scaled.select(
        "lang",
        "n_docs",
        "n_tokens",
        F.round(p, 6).alias("share_natural"),
        F.round(q, 6).alias("share_temperature"),
        F.round(q / p, 6).alias("boost"),
    )
