"""Deduplication operators for training-data pipelines.

Five detection strategies plus clustering, each designed for 100 TB scale:

* ``exact_duplicates``       — hash-groupBy on a normalized fingerprint. One
  shuffle on a short hash key; skew-free (hashes are uniform).
* ``ngram_jaccard_pairs``    — candidate generation via shared-shingle join
  (inverted index) then exact Jaccard on the candidates. Fully relational and
  SQL-oracle-able. The shingle join is the classic inverted-index pattern: a
  pair is compared only if it shares ≥1 shingle, so cost is bounded by shingle
  co-occurrence, not n².
* ``minhash_signatures`` / ``minhash_lsh_pairs`` — MinHash + banded LSH:
  shingle → k independent min-hashes → band buckets → bucket join. Hashing is
  md5-based (portable, deterministic across engines). At scale the band join
  shuffles only (band, bucket) keys.
* ``simhash64``              — 64-bit SimHash per doc; near-dups = signatures
  within Hamming distance d (joined on band prefixes).
* ``embedding_neardup_pairs``— cosine near-dup over the embeddings table
  (brute candidates at small SF; LSH via operators/ann.py at scale).

Pair outputs are canonicalized (id_a < id_b) for stable hashing;
``ngram_jaccard_pairs_prefix`` is the PPJoin-style candidate path for hot
shingles, and ``connected_dup_clusters`` turns pairs into components with a
canonical representative per cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from frappe_data_pipelines_spark.functions.text import fingerprint_expr
from frappe_data_pipelines_spark.functions.vectors import cosine_similarity
from frappe_data_pipelines_spark.operators import kernel
from frappe_data_pipelines_spark.operators.imagehash import _bucket_pairs


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Groups of byte-identical (after whitespace/case normalization) docs.
    Returns (fingerprint, n_docs, doc_ids sorted) for groups with n>1."""
    return (
        docs.select(F.col(id_col).alias("doc_id"), fingerprint_expr(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sort_array(F.collect_list("doc_id")).alias("doc_ids"),
        )
        .filter(F.col("n_docs") > 1)
    )


def word_shingles(docs: DataFrame, n: int = 5, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, shingle) distinct pairs; shingle = n consecutive lowercase
    word tokens joined by single spaces."""
    toks = F.filter(F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"), lambda t: t != "")
    # Short docs are dropped via a null-yielding WHEN inside the projection,
    # not a .filter(size >= n): Catalyst pushes such a filter into the scan
    # with the tokenize subtree substituted — a second tokenize pass over
    # the corpus (r12 plan audit). explode(null) yields no rows, so short
    # docs are absent from the output either way. No repartition here: a
    # per-consumer interleaved A/B (sf0.1, engine session, 5 reps — see
    # BENCH_RUNS_r12.json.shingle_spread_ab) measured the pre-tokenize
    # spread a wash for minhash signatures and a net cost for the LSH and
    # jaccard consumers (the exchange outweighs the serial tokenize on a
    # small scan), and an unconditional repartition(defaultParallelism)
    # would DOWN-shuffle a real corpus scan's thousands of partitions at
    # 100 TB. The first groupBy/join exchange downstream spreads the work.
    d = docs.select(F.col(id_col).alias("doc_id"), toks.alias("toks"))
    idx = F.when(F.size("toks") >= n, F.sequence(F.lit(0), F.size("toks") - n))
    shingle = F.transform(idx, lambda i: F.array_join(F.slice(F.col("toks"), i + 1, n), " "))
    # array_distinct dedupes within a document BEFORE the explode, so no
    # global .distinct() shuffle is needed (doc_id is a unique key of docs).
    # At 100 TB that saves a full shuffle of the exploded shingle set.
    return d.select("doc_id", F.explode(F.array_distinct(shingle)).alias("shingle"))


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 5,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-dup pairs by n-gram (word-shingle) Jaccard ≥ threshold.

    inverted-index self-join on shingle → common-shingle counts per pair →
    jaccard = common / (|A| + |B| - common)."""
    sh = word_shingles(docs, n, id_col, text_col).cache()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(b, F.col("a.shingle") == F.col("b.shingle"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count("*").alias("common"))
    )
    out = (
        common.join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n_sh", "n_a"), "id_a")
        .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


# -- MinHash ---------------------------------------------------------------

def _md5_64(col):
    """Portable 64-bit hash: first 16 hex chars of md5 → bigint. The same
    expression exists in DuckDB SQL, so signatures are oracle-checkable."""
    return F.conv(F.substring(F.md5(col.cast("binary")), 1, 15), 16, 10).cast("bigint")


# fixed affine family over a 31-bit Mersenne prime: products stay < 2^37 so
# the arithmetic is exact in int64 on every engine (no ANSI overflow, and the
# same formula is writable in DuckDB SQL for the oracle)
_MERSENNE31 = (1 << 31) - 1


def minhash_signatures(
    docs: DataFrame,
    num_hashes: int = 16,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, sig ARRAY<BIGINT>): sig[i] = min over shingles of
    (a_i * h + b_i) mod 2^31-1, h = md5-64 of the shingle reduced mod 2^31-1."""
    sh = word_shingles(docs, shingle_n, id_col, text_col)
    sh = sh.withColumn("h", _md5_64(F.col("shingle")) % F.lit(_MERSENNE31))
    aggs = [
        F.min((F.lit(2 * i + 1) * F.col("h") + F.lit(i * 12582917)) % F.lit(_MERSENNE31)).alias(f"m{i}")
        for i in range(num_hashes)
    ]
    sig = sh.groupBy("doc_id").agg(*aggs)
    return sig.select("doc_id", F.array(*[f"m{i}" for i in range(num_hashes)]).alias("sig"))


def _lsh_bucketize(
    sig: DataFrame, num_hashes: int, bands: int, keep_sig: bool = False
) -> DataFrame:
    """(doc_id, band, bucket) rows: one bucket key per signature band.
    ``keep_sig=True`` carries the signature array through the explode so
    downstream pair estimation needs no join back to the signature table
    (bands× more shuffled bytes per doc, two fewer shuffle joins)."""
    rows_per_band = num_hashes // bands
    cols = ["doc_id"] + (["sig"] if keep_sig else [])
    return sig.select(
        *cols,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(F.to_json(F.slice("sig", b * rows_per_band + 1, rows_per_band))).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(*cols, "bb.band", "bb.bucket")


def minhash_lsh_bucket_stats(
    docs: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket_size: int = 1024,
) -> DataFrame:
    """Operational diagnostic for the hot-bucket degrade in
    ``minhash_lsh_pairs``: per (band, bucket) size plus whether the bucket
    exceeds ``max_bucket_size`` (→ star-linked instead of all-pairs). Run
    this alongside a production dedup sweep so the degrade is OBSERVED, not
    silent — the count/excess of hot buckets is the number to alert on."""
    sig = minhash_signatures(docs, num_hashes, shingle_n, id_col, text_col)
    return (
        _lsh_bucketize(sig, num_hashes, bands)
        .groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("bucket_size"))
        .withColumn("is_hot", F.col("bucket_size") > F.lit(max_bucket_size))
        .withColumn(
            "skipped_pairs",
            F.when(
                F.col("is_hot"),
                (F.col("bucket_size") * (F.col("bucket_size") - 1) / 2
                 - (F.col("bucket_size") - 1)).cast("bigint"),
            ).otherwise(F.lit(0).cast("bigint")),
        )
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket_size: int = 1024,
) -> DataFrame:
    """Banded LSH: split the signature into ``bands`` rows-per-band groups;
    docs colliding in ANY band become a candidate pair. Returns distinct
    (id_a < id_b) candidates with estimated jaccard (= fraction of equal
    signature positions).

    **Hot-bucket bound (VERDICT r4 #4):** buckets larger than
    ``max_bucket_size`` degrade to STAR linking against the bucket's
    minimum doc_id (``imagehash._bucket_pairs``, the join every near-dup
    modality shares), so no bucket's output grows past linear. The
    candidate graph's connected components are unchanged — downstream
    clustering (``dedup_star_clusters``) groups the family exactly as
    all-pairs would. The degrade is observable via
    ``minhash_lsh_bucket_stats`` (skipped-pair counts per hot bucket); what
    is lost is only the per-pair jaccard estimate between non-hub members
    of a hot bucket, never membership of the duplicate cluster.
    """
    sig = minhash_signatures(docs, num_hashes, shingle_n, id_col, text_col)
    # signatures ride along with the bucket rows (bands× bytes) so pair
    # estimation happens INSIDE the bucket join — no join back to the
    # signature table, which previously cost two extra shuffle joins.
    # Not cached: the consumers reuse the bucketize exchange (r12 lsh_cache_ab, r13 lsh_repart_ab).
    bucketed = _lsh_bucketize(sig, num_hashes, bands, keep_sig=True)
    pairs = _bucket_pairs(bucketed, ["band", "bucket"], ["sig"], max_bucket_size)
    # a pair colliding in k bands appears k times with the SAME estimate —
    # distinct over the 3 columns is the same dedup as over (id_a, id_b)
    return pairs.select(
        F.col("doc_a").alias("id_a"),
        F.col("doc_b").alias("id_b"),
        F.round(
            F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda x: x))
            / F.lit(float(num_hashes)),
            6,
        ).alias("est_jaccard"),
    ).distinct()


def simhash64(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """64-bit SimHash: per token md5-64 hash; bit i of the signature is the
    majority vote of token-bit i. Relational formulation: explode tokens ×
    bits is avoided — instead sum per-bit contributions via bit arithmetic in
    an array comprehension (64 shiftright/sum aggregates)."""
    toks = F.filter(F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"), lambda t: t != "")
    t = docs.select(F.col(id_col).alias("doc_id"), F.explode(toks).alias("tok"))
    t = t.withColumn("h", _md5_64(F.col("tok")))
    aggs = [
        F.sum(F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)).alias(f"b{i}")
        for i in range(64)
    ]
    votes = t.groupBy("doc_id").agg(*aggs)
    sig = votes.select(
        "doc_id",
        sum(
            [F.when(F.col(f"b{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0)) for i in range(63)],
            F.lit(0),
        ).cast("bigint").alias("simhash"),
    )
    return sig


def embedding_neardup_pairs(
    vectors: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cosine near-dup pairs >= threshold, canonicalized (id_a < id_b).

    Physically a broadcast-nested-loop join, but the inner loop is one float64
    GEMM per Arrow batch (A_block @ B.T in numpy) instead of O(n^2) interpreted
    per-element expressions — the pair similarity matrix is computed blockwise
    and only passing pairs are materialized. The build side is collected and
    broadcast, so this carries the same size constraint as any broadcast join;
    the scale path for all-pairs similarity is ``ann.lsh_similarity_join``
    (bucket join, no n^2 term)."""
    import numpy as np
    from pyspark.sql import types as T

    from frappe_data_pipelines_spark.operators.guards import (
        MAX_GEMM_BUILD_ROWS,
        collect_bounded,
    )

    sess = vectors.sparkSession
    base = vectors.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    rows_b = collect_bounded(
        base,
        MAX_GEMM_BUILD_ROWS,
        "embedding_neardup_pairs broadcast-GEMM build side "
        "(use ann.lsh_similarity_join for corpora past the broadcast budget)",
    )
    ids_b = np.array([r["id"] for r in rows_b])
    mat_b = np.stack([np.asarray(r["v"]) for r in rows_b]).astype(np.float64)
    nrm_b = np.sqrt((mat_b * mat_b).sum(axis=1))
    bcast = sess.sparkContext.broadcast((ids_b, mat_b, nrm_b))

    id_type = base.schema["id"].dataType
    schema = T.StructType(
        [
            T.StructField("id_a", id_type),
            T.StructField("id_b", id_type),
            T.StructField("cos", T.DoubleType()),
        ]
    )
    thr = float(threshold)

    def block(batches):
        import pandas as pd

        ids_full, mat_full, nrm_full = bcast.value
        for pa in batches:
            if len(pa) == 0:
                continue
            mat_a = np.stack(pa["v"].to_numpy()).astype(np.float64)
            ids_a = pa["id"].to_numpy()
            with np.errstate(divide="ignore", invalid="ignore"):
                nrm_a = np.sqrt((mat_a * mat_a).sum(axis=1))
                sims = np.round((mat_a @ mat_full.T) / np.outer(nrm_a, nrm_full), 6)
                ia, jb = np.nonzero(sims >= thr)  # NaN (zero norm) never passes
            keep = ids_a[ia] < ids_full[jb]
            yield pd.DataFrame(
                {"id_a": ids_a[ia][keep], "id_b": ids_full[jb][keep], "cos": sims[ia, jb][keep]}
            )

    par = sess.sparkContext.defaultParallelism
    return kernel.map_batches(base.repartition(par), block, schema)


def ngram_jaccard_pairs_prefix(
    docs: DataFrame,
    n: int = 5,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """``ngram_jaccard_pairs`` with PPJoin-style prefix filtering — the
    100 TB candidate-generation path.

    Jaccard >= t implies two docs share at least one of each other's
    ``|S| - ceil(t * |S|) + 1`` globally-rarest shingles (prefix-filter
    principle, Chaudhuri et al. / Xiao et al.). So only that prefix enters
    the inverted index: the self-join touches a small, rare-token slice
    instead of every shingle, and hot (high-document-frequency) shingles —
    the skew and blow-up source — are exactly the ones excluded. Ordering is
    (document_frequency, shingle): per-doc ranking is a window partitioned
    by doc, never a global sort. Verification then counts common shingles
    over the FULL sets for the surviving candidates only, so results equal
    the unfiltered operator exactly (tests assert this)."""
    from pyspark.sql.window import Window

    sh = word_shingles(docs, n, id_col, text_col).cache()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("df"))

    ranked = (
        sh.join(dfreq, "shingle")
        .join(sizes, "doc_id")
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy("df", "shingle")
            ),
        )
    )
    prefix_len = F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + 1
    prefix = ranked.filter(F.col("rk") <= prefix_len).select("doc_id", "shingle")

    cands = (
        prefix.alias("a")
        .join(prefix.alias("b"), "shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )
    common = (
        cands.join(sh.select(F.col("doc_id").alias("id_a"), "shingle"), "id_a")
        .join(sh.select(F.col("doc_id").alias("id_b"), "shingle"), ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("common"))
    )
    return (
        common.join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n_sh", "n_a"), "id_a")
        .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def connected_dup_clusters(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """Near-dup pairs → duplicate CLUSTERS via iterative min-label
    propagation: every node starts labeled with itself; each round a node
    adopts the minimum label in its neighborhood; fixpoint = connected
    components. Returns (doc_id, cluster_id) where cluster_id = min doc_id
    of the component — the canonical representative a dedup pipeline keeps.

    Converges in O(component diameter) rounds (near-dup clusters are
    shallow); each round is one join + one aggregate on the (small) pair
    set, with an early-exit count. At web scale this is the standard
    large-star/small-star pattern; the per-round plan here is its
    two-step core."""
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
        .cache()
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("lbl", F.col("node"))
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("lbl").alias("nbr_lbl"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.least(F.col("lbl"), F.coalesce(F.col("nbr_lbl"), F.col("lbl"))).alias("lbl"),
            )
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.lbl") != F.col("o.lbl"))
            .count()
        )
        labels = new_labels.cache()
        if changed == 0:
            break
    return labels.select(F.col("node").alias("doc_id"), F.col("lbl").alias("cluster_id"))


def simhash_incremental_pairs(
    docs: DataFrame,
    new_sources: list[str],
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Incremental corpus dedup: near-dup pairs between a NEW batch (rows
    whose source is in ``new_sources``) and the existing corpus, by SimHash
    Hamming distance.

    Scale path: the signature is split into 4 bands of 16 bits; a pair
    within ``max_hamming`` ≤ 3 bits must share at least one unchanged band
    (pigeonhole), so the candidate join is an equi-join on (band_idx,
    band_value) — never new×corpus quadratic. Exact Hamming
    (bit_count(xor)) then filters candidates. This is the nightly
    "dedupe today's crawl against the 100 TB corpus" operation; the corpus
    side's band table is precomputable and incrementally appendable."""
    if max_hamming > 3:
        raise ValueError("4x16-bit banding is only exact for max_hamming <= 3")
    sig = simhash64(docs, id_col=id_col, text_col=text_col).join(
        docs.select(F.col(id_col).alias("doc_id"), F.col(source_col).alias("source")),
        "doc_id",
    )
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.shiftright(F.col("simhash"), 16 * b).bitwiseAND(F.lit(0xFFFF)).alias("band_val"),
            )
            for b in range(4)
        ]
    )
    banded = sig.select("doc_id", "simhash", "source", F.explode(bands).alias("b")).select(
        "doc_id", "simhash", "source", F.col("b.band_idx").alias("band_idx"),
        F.col("b.band_val").alias("band_val"),
    )
    is_new = F.col("source").isin(*new_sources)
    new_b = banded.filter(is_new).select(
        F.col("doc_id").alias("new_id"), F.col("simhash").alias("new_sig"),
        "band_idx", "band_val",
    )
    corp_b = banded.filter(~is_new).select(
        F.col("doc_id").alias("corpus_id"), F.col("simhash").alias("corp_sig"),
        "band_idx", "band_val",
    )
    cand = (
        new_b.join(corp_b, ["band_idx", "band_val"])
        .select("new_id", "corpus_id", "new_sig", "corp_sig")
        .distinct()
    )
    ham = F.bit_count(F.col("new_sig").bitwiseXOR(F.col("corp_sig"))).cast("int")
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("new_id", "corpus_id", "hamming")
    )


def benchmark_contamination(
    docs: DataFrame,
    eval_sources: list[str],
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Benchmark decontamination: for every training doc, the share of its
    n-gram shingles that appear anywhere in the eval set (rows whose source
    is in ``eval_sources``). Returns (doc_id, n_shingles, n_hit,
    contamination) for contaminated docs — the standard pre-training
    hygiene step (drop or flag docs that leak eval data).

    Scale shape: the eval shingle set is tiny relative to the corpus →
    broadcast semi-join against the exploded training shingles; one
    aggregation per doc. No quadratic pair generation."""
    sh = word_shingles(docs, n=n, id_col=id_col, text_col=text_col).join(
        docs.select(F.col(id_col).alias("doc_id"), F.col(source_col).alias("source")),
        "doc_id",
    )
    # NULL sources must land on the training side (X.isin(...) is NULL for
    # NULL X, and both NULL and ~NULL filter to nothing — a NULL-source doc
    # would silently skip the contamination check entirely).
    is_eval = F.coalesce(F.col("source").isin(*eval_sources), F.lit(False))
    eval_sh = sh.filter(is_eval).select("shingle").distinct()
    train = sh.filter(~is_eval)
    sizes = train.groupBy("doc_id").agg(F.count("*").cast("bigint").alias("n_shingles"))
    hits = (
        train.join(F.broadcast(eval_sh), "shingle", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("n_hit"))
    )
    return sizes.join(hits, "doc_id").select(
        "doc_id",
        "n_shingles",
        "n_hit",
        F.round(F.col("n_hit") / F.col("n_shingles"), 6).alias("contamination"),
    )


def connected_components_star(
    pairs: DataFrame, max_iter: int = 12, stats: dict | None = None
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., 'Connected Components in MapReduce and Beyond',
    SoCC'14) — the web-scale upgrade of ``connected_dup_clusters``.

    Min-label propagation converges in O(component diameter) rounds; dup
    graphs usually have shallow components, but one pathological chain
    (A≈B≈C≈…, common under transitive near-dup thresholds) makes diameter
    — and therefore round count — linear. Star contraction converges in
    O(log n) rounds on ANY topology:

    - **large-star** (per node u): attach every strictly-larger neighbor
      to m = min(Γ(u) ∪ {u});
    - **small-star**: orient edges toward the smaller endpoint, then
      attach every smaller-or-equal neighbor (and u) to m.

    Each half-round is one groupBy-min + one join on the edge set — no
    driver-side graph state. Every round ends in ``localCheckpoint`` to
    TRUNCATE LINEAGE — without it each iteration's plan embeds all prior
    iterations and Catalyst planning + stage replay go superlinear (the
    same reason GraphFrames checkpoints its iterative algorithms; on a
    cluster swap in a reliable ``checkpoint`` dir for fault tolerance).
    Fixpoint = unchanged (count, XOR of xxhash64(u,v)) signature — one tiny
    aggregate per round instead of two exceptAll jobs. Returns (doc_id,
    cluster_id = component min), same contract as connected_dup_clusters;
    ``stats['rounds']`` records the converged round count."""
    edges = (
        pairs.select(F.col("id_a").cast("long").alias("u"), F.col("id_b").cast("long").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )

    def signature(df: DataFrame):
        r = df.agg(
            F.count(F.lit(1)).alias("n"), F.expr("bit_xor(xxhash64(u, v))").alias("h")
        ).first()
        return (r["n"], r["h"])

    prev_sig = signature(edges)
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        # Intermediate .distinct()s removed (r13, guide §2.4 "a distinct
        # on data that is already unique"): every consumer of these edge
        # sets is either a min-aggregate (duplicate-insensitive) or feeds
        # the ONE round-ending distinct, so the three mid-round distincts
        # were pure extra full-edge-set exchanges — 6 exchanges per round
        # become 3. Duplicate multiplicity cannot compound: each round
        # starts from the previous round's distinct+checkpointed edges.
        # -- large-star: bidirectional adjacency, larger neighbors → m
        adj = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = adj.groupBy("u").agg(F.least(F.min("v"), F.col("u")).alias("m"))
        large = (
            adj.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        # -- small-star: orient toward smaller endpoint, ≤ neighbors → m
        directed = large.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).filter(F.col("u") != F.col("v"))
        smins = directed.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            directed.join(smins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .union(smins.select(F.col("u"), F.col("m").alias("v")))
            .distinct()
            .localCheckpoint()
        )
        sig = signature(small)
        edges = small
        if sig == prev_sig:
            break
        prev_sig = sig
    if stats is not None:
        stats["rounds"] = rounds
    roots = edges.select(F.col("v").alias("doc_id"), F.col("v").alias("cluster_id")).distinct()
    return (
        edges.select(F.col("u").alias("doc_id"), F.col("v").alias("cluster_id"))
        .union(roots)
        .distinct()
    )


def cluster_safe_splits(
    docs: DataFrame,
    pairs: DataFrame,
    train_pct: int = 80,
    val_pct: int = 10,
    id_col: str = "doc_id",
) -> DataFrame:
    """Leakage-safe train/validation/test assignment at the NEAR-DUP level:
    the split hash is salted over the doc's near-duplicate CLUSTER id
    (connected components over ``pairs``), so transitively-near-duplicate
    documents — which an exact-fingerprint split still scatters — always
    land in the same split and can never leak eval text into training
    (Lee et al. 2021 §5's contamination argument, applied to the split
    boundary itself). Docs in no pair are their own singleton cluster.

    Returns (doc_id, cluster_id, split) for EVERY doc. Deterministic: no
    rand(), survives re-partitioning and re-runs; appending new docs never
    moves an existing doc's split (its cluster id is stable unless a new
    pair merges clusters — exactly the case where re-assignment is the
    CORRECT behavior, because the merged cluster must not straddle splits).

    Scale shape: components are O(log n) star-contraction shuffles over the
    pair set (usually ≪ corpus); the assignment itself is one left join +
    a hash — no corpus shuffle."""
    from frappe_data_pipelines_spark.functions.text import md5_bucket_expr

    if not (0 < train_pct and 0 <= val_pct and train_pct + val_pct <= 100):
        raise ValueError("need 0 < train_pct, 0 <= val_pct, train+val <= 100")
    cc = connected_components_star(pairs)
    base = docs.select(F.col(id_col).cast("long").alias("doc_id"))
    j = base.join(cc, "doc_id", "left").select(
        "doc_id", F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id")
    )
    bucket = md5_bucket_expr(F.col("cluster_id"), "split:", 8, 100)
    split = (
        F.when(bucket < train_pct, "train")
        .when(bucket < train_pct + val_pct, "validation")
        .otherwise("test")
    )
    return j.select("doc_id", "cluster_id", split.alias("split"))


def semdedup(
    vectors: DataFrame,
    n_clusters: int = 8,
    n_iter: int = 2,
    threshold: float = 0.40,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic near-duplicate pruning by
    cluster-then-compare — k-means the embedding space, then compare pairs
    ONLY within a cluster; a vector is a duplicate when a lower-id clustermate
    sits within cosine ``threshold``. Keep-lowest-id is the deterministic
    stand-in for the paper's keep-one-per-epsilon-group rule.

    Scale shape: the clustering bounds pairwise work to Σ|cluster|² instead
    of n² — with balanced clusters that is n²/k — and the within-cluster
    self-join shuffles on the cluster key only. Iterations are DataFrame
    aggregations (see ivf_build); only centroids reach the driver. Returns
    (id, cluster, is_dup) for every vector; filter ``~is_dup`` for the
    deduplicated corpus. Cross-cluster near-dups are out of scope by design
    (the paper's trade: boundary pairs are rare when k ≪ n)."""
    from frappe_data_pipelines_spark.functions.vectors import (
        dot_product,
        vector_norm,
    )
    from frappe_data_pipelines_spark.operators.ann import ivf_build

    assigned, _ = ivf_build(
        vectors, n_clusters=n_clusters, n_iter=n_iter, id_col=id_col, vec_col=vec_col
    )
    # norm hoisted to one per ROW (same fold arithmetic as the per-pair
    # cosine, so dot/(na*nb) is bit-identical and the oracle hash holds)
    a = assigned.select(
        F.col(id_col).alias("a_id"),
        F.col("cluster").alias("a_cluster"),
        F.col(vec_col).alias("a_vec"),
        vector_norm(F.col(vec_col)).alias("a_nrm"),
    )
    b = assigned.select(
        F.col(id_col).alias("b_id"),
        F.col("cluster").alias("b_cluster"),
        F.col(vec_col).alias("b_vec"),
        vector_norm(F.col(vec_col)).alias("b_nrm"),
    )
    dups = (
        a.join(b, (F.col("a_cluster") == F.col("b_cluster")) & (F.col("b_id") < F.col("a_id")))
        .where(
            F.round(
                F.try_divide(
                    dot_product(F.col("a_vec"), F.col("b_vec")),
                    F.col("a_nrm") * F.col("b_nrm"),
                ),
                6,
            )
            >= F.lit(threshold)
        )
        .select(F.col("a_id").alias(id_col))
        .distinct()
    )
    return (
        assigned.join(dups.withColumn("__dup", F.lit(True)), id_col, "left")
        .select(
            id_col,
            F.col("cluster").cast("bigint").alias("cluster"),
            F.coalesce(F.col("__dup"), F.lit(False)).alias("is_dup"),
        )
    )


def boilerplate_segment_removal(
    docs: DataFrame,
    seg_words: int = 10,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-level duplicated-segment removal (the CCNet paragraph-dedup /
    RefinedWeb line-dedup move, adapted to a corpus whose documents are
    single-line): chop each document into non-overlapping ``seg_words``-word
    segments, count how many DISTINCT documents each exact segment occurs
    in corpus-wide, drop every copy of segments appearing in ≥ ``min_docs``
    documents, and reconstruct the surviving text in order.

    Returns (doc_id, clean_text, n_segments, n_removed, removed_frac).

    Scale shape: one explode to segment granularity, one aggregation on the
    uniform segment hash (count distinct docs — sketchable if needed), one
    shuffle join back on the same key, one per-doc regroup. No all-pairs
    anything; hot segments ("the the the ...") cost one aggregation row
    each, and the join fans out only to their actual occurrences — which is
    exactly the data being deleted. Reference has no counterpart (its
    corpus is user files); this is the training-pipeline extension surface
    (SURVEY "beyond the reference" list).
    """
    words = F.split(F.col(text_col), " ")
    n_segs = F.ceil(F.size(words) / F.lit(seg_words)).cast("int")
    seg_arr = F.transform(
        F.sequence(F.lit(0), n_segs - 1),
        lambda i: F.array_join(F.slice(words, i * seg_words + 1, seg_words), " "),
    )
    segs = docs.select(
        F.col(id_col).alias("doc_id"), F.posexplode(seg_arr).alias("seg_no", "seg")
    )
    # df(segment) — count over distinct (doc, segment): duplicated segments
    # WITHIN one doc don't count toward the cross-document threshold
    seg_df = (
        segs.select("doc_id", "seg")
        .distinct()
        .groupBy("seg")
        .agg(F.count("*").cast("bigint").alias("n_docs_with_seg"))
    )
    kept = segs.join(seg_df, "seg").withColumn(
        "drop", F.col("n_docs_with_seg") >= min_docs
    )
    return (
        kept.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(~F.col("drop"), F.struct("seg_no", "seg"))
                        )
                    ),
                    lambda s: s["seg"],
                ),
                " ",
            ).alias("clean_text"),
            F.count("*").cast("bigint").alias("n_segments"),
            F.sum(F.col("drop").cast("bigint")).alias("n_removed"),
            F.round(
                F.sum(F.col("drop").cast("int")) / F.count("*"), 6
            ).alias("removed_frac"),
        )
    )


# ---------------------------------------------------------------------------
# Exact substring dedup (Lee et al. 2021 ExactSubstr, Spark-distributed)
# ---------------------------------------------------------------------------

def _char_windows(docs: DataFrame, length: int, id_col: str, text_col: str) -> DataFrame:
    """All stride-1 character windows of ``length``: (doc_id, pos, s).

    ``pos`` is 1-based to match SQL ``substr``. Docs shorter than ``length``
    produce no rows. One higher-order-function map builds the window array
    JVM-side; the explode is the unavoidable row blowup of stride-1
    detection — at scale, call only on the winnow-prefiltered cohort
    (see ``exact_dup_spans(prefilter='winnow')``)."""
    spans = F.transform(
        F.sequence(F.lit(1), F.length(text_col) - (length - 1)),
        lambda p: F.struct(
            p.cast("long").alias("pos"),
            F.substring(F.col(text_col), p, length).alias("s"),
        ),
    )
    # A small-file source arrives as 1 input partition; the stride-1 blowup
    # is the CPU-heavy step, so spread the rows first (cheap: pre-explode
    # rows — same move as word_shingles). At 100 TB the scan already has
    # thousands of partitions and this is a no-op-cost rebalance.
    par = docs.sparkSession.sparkContext.defaultParallelism
    return (
        docs.filter(F.length(text_col) >= length)
        .select(F.col(id_col).alias("doc_id"), F.col(text_col))
        .repartition(par)
        .select(F.col("doc_id"), F.explode(spans).alias("w"))
        .select("doc_id", F.col("w.pos").alias("pos"), F.col("w.s").alias("s"))
    )


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 8,
    w: int = 33,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every ``k``-gram, then in each
    window of ``w`` consecutive k-gram hashes select the minimum (rightmost
    position on ties). Returns distinct (doc_id, pos, fp).

    Guarantee (the reason this is the 100 TB prefilter for exact-substring
    dedup): any two copies of a string of length >= w + k - 1 share at
    least one selected fingerprint, because some window of w k-grams lies
    entirely inside both copies and its minimum is content-determined.
    Expected density is 2/(w+1) — ~6% of positions at w=33 — so the first
    pass over the corpus emits ~16x fewer rows than stride-1.

    The per-window argmin is ONE sliding-frame ``min`` over an
    order-encoding string key (hash hex ‖ zero-padded inverted position, so
    lexicographic min = (hash asc, pos desc)) — no self-join, and the same
    expression runs verbatim in the DuckDB oracle."""
    grams = _char_windows(docs, k, id_col, text_col)
    # 64-bit content hash as fixed-width hex; inverted pos for rightmost-tie
    keyed = grams.select(
        "doc_id",
        "pos",
        F.concat(
            F.substring(F.md5(F.col("s").cast("binary")), 1, 16),
            F.lpad((F.lit(99999999) - F.col("pos")).cast("string"), 8, "0"),
        ).alias("key"),
    )
    from pyspark.sql.window import Window

    frame = (
        Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, w - 1)
    )
    # a full window starts at every pos up to n_grams - w + 1; count grams per doc
    n_grams = Window.partitionBy("doc_id")
    sel = (
        keyed.withColumn("win_min", F.min("key").over(frame))
        .withColumn("n", F.count("*").over(n_grams))
        .filter(F.col("pos") <= F.col("n") - F.lit(w - 1))
        .select(
            "doc_id",
            (F.lit(99999999) - F.substring("win_min", 17, 8).cast("long")).alias("fp_pos"),
            F.substring("win_min", 1, 16).alias("fp"),
        )
        .distinct()
    )
    return sel.withColumnRenamed("fp_pos", "pos")


# order-key position width for the fast winnowing kernel: per-Arrow-batch
# concatenated text must fit in this many bits of inverted position or the
# key silently corrupts — the kernel guards it. Module-level so tests can
# shrink it to exercise the guard without a 4 GiB batch.
_WINNOW_POS_BITS = 32

# rolling-hash base for the fast winnowing kernel (odd → invertible mod 2^64)
_WINNOW_B = 1000003
_WINNOW_BINV = pow(_WINNOW_B, -1, 1 << 64)


def _winnow_kernel(doc_ids, texts, k: int, w: int, pos_bits: int | None = None):
    """One vectorized winnowing pass over a list of documents: all docs are
    concatenated into a single byte buffer; the rolling content hash is
    position-independent so it computes globally, and per-doc isolation
    comes from masking to windows whose full extent lies inside one
    document (grams crossing a boundary only ever appear in masked-out
    windows — no separator padding needed). Returns (ids, char_positions
    1-based, fp int64 values). Module-level so the distributed
    ``winnow_fingerprints_fast`` pass and the driver-local trickle door
    (``incremental_scrub_local``) run the IDENTICAL selection."""
    import numpy as np

    B = _WINNOW_B
    BINV = _WINNOW_BINV
    # pos_bits is captured DRIVER-side by callers (winnow_fingerprints_fast
    # pickles it into the task closure) so a test-shrunk budget reaches the
    # workers, where this module is re-imported with the pristine global
    POS_BITS = _WINNOW_POS_BITS if pos_bits is None else pos_bits
    POS_MASK = np.uint64((1 << POS_BITS) - 1)

    blobs = [(t or "").encode("utf-8") for t in texts]
    lens = np.array([len(b) for b in blobs], dtype=np.int64)
    data = b"".join(blobs)
    n = len(data)
    if n < k:
        return [], [], []
    if n > int(POS_MASK):
        # the inverted position must fit in POS_BITS or the order key
        # silently corrupts (missed duplicate spans downstream) — fail
        # loudly; Arrow batches are row-capped, not byte-capped, so a
        # corpus of huge documents CAN get here
        raise ValueError(
            f"winnow kernel: batch holds {n} bytes of text, "
            f"over the 2^{POS_BITS}-1 position budget; lower "
            "spark.sql.execution.arrow.maxRecordsPerBatch"
        )
    starts = np.concatenate([[0], np.cumsum(lens)])[:-1]  # doc byte offsets
    c = np.frombuffer(data, dtype=np.uint8).astype(np.uint64)
    binv_pow = np.empty(n, dtype=np.uint64)
    binv_pow[0] = 1
    np.cumprod(np.full(n - 1, BINV, dtype=np.uint64), out=binv_pow[1:])
    s = np.zeros(n + 1, dtype=np.uint64)
    np.cumsum(c * binv_pow, out=s[1:])
    n_grams = n - k + 1
    b_pow = np.empty(n_grams, dtype=np.uint64)
    b_pow[0] = pow(B, k - 1, 1 << 64)
    if n_grams > 1:
        np.cumprod(np.full(n_grams - 1, B, dtype=np.uint64), out=b_pow[1:])
        b_pow[1:] = b_pow[1:] * b_pow[0]
    # content hash of the k-gram at global offset g (uint64 wrap = mod 2^64)
    h = (s[k : k + n_grams] - s[:n_grams]) * b_pow
    inv_pos = POS_MASK - np.arange(n_grams, dtype=np.uint64)
    key = ((h >> np.uint64(POS_BITS)) << np.uint64(POS_BITS)) | inv_pos
    if n_grams < w:
        return [], [], []
    kmin = np.lib.stride_tricks.sliding_window_view(key, w).min(axis=1)
    # valid window starts: [doc_start, doc_start + doc_len - (k + w - 1)]
    n_win_per_doc = np.maximum(lens - (k + w - 1) + 1, 0)
    valid = np.concatenate(
        [np.arange(nw, dtype=np.int64) + st for st, nw in zip(starts, n_win_per_doc)]
    ) if len(starts) else np.empty(0, dtype=np.int64)
    kmin = kmin[valid]
    g = (POS_MASK - (kmin & POS_MASK)).astype(np.int64)
    g = np.unique(g)  # selected gram offsets (global)
    doc_idx = np.searchsorted(starts, g, side="right") - 1
    # 1-based CHAR position within the doc (the md5 twin's semantic —
    # grams are byte-level, so a gram starting on a continuation byte
    # reports its CONTAINING char). cum0[i] = chars fully started within
    # the first i bytes.
    cont = (c & np.uint64(0xC0)) == np.uint64(0x80)
    cum0 = np.concatenate([[0], np.cumsum(~cont, dtype=np.int64)])
    local_pos = cum0[g + 1] - cum0[starts[doc_idx]]
    out_ids = [doc_ids[i] for i in doc_idx.tolist()]  # any id type
    return out_ids, local_pos.tolist(), h[g].view(np.int64).tolist()


def winnow_fingerprints_fast(
    docs: DataFrame,
    k: int = 32,
    w: int = 9,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Winnowing fingerprints as a NUMPY kernel (the production prefilter
    path; ``winnow_fingerprints`` is the md5/SQL-mirrorable twin that
    carries the oracle). Same SIGMOD'03 selection rule — per window of ``w``
    consecutive k-gram hashes take the minimum, rightmost on ties — but the
    k-gram hash is a 64-bit polynomial rolling hash over utf-8 BYTES
    computed with wraparound uint64 prefix sums (base is odd, hence
    invertible mod 2^64, so hash_i = pow * (S[i+k] - S[i]) vectorizes), and
    the sliding argmin is a strided-view min. Per-document, shuffle-free
    ``mapInPandas``: no explode, no window sort — the two costs that make
    the expression-based twin unusable as a prefilter at scale.

    Selection uses the top 32 hash bits (the low 32 bits of the order key
    hold the inverted global position for rightmost-tie ordering); the
    emitted fp is the FULL 64-bit hash of the selected gram, so the
    selection stays content-determined — two copies of a string of length
    >= w + k - 1 still share a selected fingerprint, which is the
    lossless-prefilter guarantee."""
    import pandas as pd
    from pyspark.sql import types as T

    pos_bits = _WINNOW_POS_BITS  # captured here so tests' monkeypatch ships
    # carry the caller's id type through (string doc ids are as legal here
    # as bigints — the md5 twin never casts either)
    id_type = docs.schema[id_col].dataType
    schema = T.StructType([
        T.StructField("doc_id", id_type),
        T.StructField("pos", T.LongType()),
        T.StructField("fp", T.LongType()),
    ])

    def run(batches):
        for pdf in batches:
            ids, poss, fps = _winnow_kernel(
                list(pdf["doc_id"]), list(pdf["text"]), k, w, pos_bits
            )
            yield pd.DataFrame({"doc_id": ids, "pos": poss, "fp": fps})

    par = docs.sparkSession.sparkContext.defaultParallelism
    narrow = (
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
        .repartition(par)  # small-file sources arrive as 1 input partition
    )
    return kernel.map_batches(narrow, run, schema)


def exact_dup_spans(
    docs: DataFrame,
    min_len: int = 40,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    prefilter: str | None = None,
    k: int = 32,
) -> DataFrame:
    """Exact cross-document duplicated-substring spans (the guarantee of
    suffix-array dedup, Lee et al. 2021, "Deduplicating Training Data Makes
    Language Models Better"): every maximal span of text covered by
    stride-1 windows of length ``min_len`` that occur verbatim in >=
    ``min_docs`` distinct documents. Returns one row per maximal span:
    (doc_id, span_start, span_end, span_len) with 1-based [start, end).

    Exactness: a substring of length >= min_len duplicated across docs
    contains at least one duplicated window of exactly min_len, and every
    char of a duplicated span lies in such a window — so the merged islands
    are precisely the maximal duplicated regions, the same set a suffix
    array yields at threshold min_len.

    Distribution: windows shuffle once on their content (inverted index —
    unique windows, the overwhelming majority, partial-aggregate away
    map-side); island-merging is a per-doc sort-window, shuffled by doc_id.

    ``prefilter='winnow'`` is the scale path: a winnowing pass (w =
    min_len - k + 1, guarantee length exactly min_len) first finds docs
    sharing any selected fingerprint; only that cohort — at 100 TB a tiny
    fraction of the corpus — pays the stride-1 blowup. The winnowing
    guarantee makes the prefilter lossless: every doc holding a duplicated
    min_len-window shares that window's in-span fingerprint, so the cohort
    contains ALL occurrences and window doc-counts inside the cohort equal
    the global counts (tested differentially in tests/test_dedup.py)."""
    # null-id rows are excluded up front: a span can't be attributed to a
    # document without an id, and the dense_rank distinct-doc count below
    # would otherwise tally NULL as a distinct document (the pre-refactor
    # countDistinct excluded nulls — this keeps that semantic explicit,
    # and makes the winnow path — where a null id never matches the
    # cohort join anyway — consistent with the direct path).
    base = docs.filter(F.col(id_col).isNotNull())
    if prefilter == "winnow":
        if not 1 <= k <= min_len:
            raise ValueError(f"winnow prefilter needs 1 <= k <= min_len, got k={k}")
        # numpy kernel (winnow_fingerprints_fast): per-doc rolling hash +
        # sliding argmin, no explode/sort — the prefilter's whole point is
        # to be cheaper than the stride-1 pass it guards. k defaults to 32
        # (not the oracle query's 8): an 8-byte gram is shared by almost
        # every pair of documents, so the k=8 cohort is the whole corpus
        # and the prefilter pays without filtering; 32-byte grams track
        # real 40-char duplication.
        fps = winnow_fingerprints_fast(
            base, k=k, w=min_len - k + 1, id_col=id_col, text_col=text_col
        )
        # single-consumption cohort: ONE shuffle on fp (window count — no
        # collect_set skew risk, no second scan re-running the kernel),
        # then distinct doc_ids. Plain count() not countDistinct(doc_id):
        # intra-doc repeats can over-include a doc, which only ever GROWS
        # the cohort — the prefilter stays lossless.
        from pyspark.sql.window import Window as _W

        cohort = (
            fps.withColumn("n_occ", F.count("*").over(_W.partitionBy("fp")))
            .filter(F.col("n_occ") >= F.least(F.lit(min_docs), F.lit(2)))
            .select("doc_id")
            .distinct()
        )
        base = base.join(
            cohort, base[id_col] == cohort["doc_id"], "left_semi"
        )
    win = _char_windows(base, min_len, id_col, text_col)
    # ONE content-key shuffle: annotate every window row with the count of
    # DISTINCT documents sharing its content via two window functions over
    # the same partition key (dense_rank by doc_id, then its unbounded
    # max), and keep rows from buckets spanning >= min_docs documents.
    # The previous groupBy(countDistinct) + join-back formulation shuffled
    # the stride-1 window set TWICE (and re-ran the explode for the join
    # side). Rows stay rows — a hot window (same boilerplate line across
    # millions of docs) lands in one sort-spillable window partition,
    # never a single collect_list cell — and a corpus with such windows is
    # also exactly the prefilter='winnow' case, which shrinks the input to
    # the sharing cohort before this shuffle.
    from pyspark.sql.window import Window as _W

    by_s = _W.partitionBy("s").orderBy("doc_id")
    over_s = _W.partitionBy("s")
    marked = (
        win.withColumn("__dr", F.dense_rank().over(by_s))
        .withColumn("__nd", F.max("__dr").over(over_s))
        .filter(F.col("__nd") >= min_docs)
        .select("doc_id", "pos")
    )
    return _merge_marked_windows(marked, min_len)


def _merge_marked_windows(marked: DataFrame, min_len: int) -> DataFrame:
    """Gaps-and-islands merge of stride-1 hit windows: each (doc_id, pos)
    row covers chars [pos, pos + min_len); overlapping/adjacent covers
    fuse into one maximal span. Per-doc sort window, shuffled on doc_id —
    shared by the self-dedup (``exact_dup_spans``) and eval-set
    (``benchmark_span_decontaminate``) span paths."""
    from pyspark.sql.window import Window

    prev = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    run = Window.partitionBy("doc_id").orderBy("pos")
    islands = (
        marked.withColumn("prev_end", F.max(F.col("pos") + min_len).over(prev))
        .withColumn(
            "new_isl",
            F.when(F.col("pos") > F.coalesce(F.col("prev_end"), F.lit(-1)), 1).otherwise(0),
        )
        .withColumn("island", F.sum("new_isl").over(run))
    )
    return (
        islands.groupBy("doc_id", "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + min_len).alias("span_end"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start")).alias("span_len"),
        )
    )


def exact_substring_scrub(
    docs: DataFrame,
    min_len: int = 40,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    prefilter: str | None = None,
    k: int = 32,
) -> DataFrame:
    """APPLY exact-substring dedup: emit the cleaned corpus with every
    ``exact_dup_spans`` region cut out, plus removal accounting — the
    second half of the Lee et al. 2021 ExactSubstr pipeline (their tool
    likewise cuts EVERY occurrence of a duplicated substring). Every
    pre-existing cross-document repeat of length >= min_len is removed;
    note the same caveat as the original: cutting a span concatenates its
    flanks, which can in principle mint NEW adjacent text (run a second
    pass if that matters — in practice, as in the paper, it does not).

    Returns (doc_id, n_chars, n_spans, chars_removed, n_kept,
    cleaned_text): docs without spans pass through byte-identical. The
    stitch is pure JVM — spans are maximal and non-overlapping by
    construction, so one ``F.aggregate`` over the sorted span array
    concatenates the kept gaps; no UDF, no per-char explode.

    Scale shape: adds exactly one doc_id shuffle (span collect_list) and
    one doc_id join on top of ``exact_dup_spans``; at 100 TB run it with
    ``prefilter='winnow'`` like the span query itself."""
    spans = exact_dup_spans(
        docs, min_len, min_docs, id_col, text_col, prefilter, k
    )
    return apply_span_removal(docs, spans, id_col, text_col)


def apply_span_removal(
    docs: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """Cut ``spans`` (doc_id, span_start, span_end, span_len — maximal,
    non-overlapping, 1-based [start, end)) out of ``docs`` and emit
    (doc_id, n_chars, n_spans, chars_removed, n_kept, cleaned_text):
    the shared stitch behind ``exact_substring_scrub`` (self-dedup) and
    ``incremental_substring_scrub`` (ingest door). One doc_id shuffle
    (span collect_list) + one join; the stitch itself is a single JVM
    higher-order aggregate over the sorted span array.

    ``carry_cols``: additional ``docs`` columns echoed through unchanged
    (appended after ``cleaned_text``) — a streaming door that needs the
    full row back avoids a second keyed join against its own batch."""
    carry_cols = carry_cols or []
    per_doc = spans.groupBy("doc_id").agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("span_start").cast("int").alias("s"),
                    F.col("span_end").cast("int").alias("e"),
                )
            )
        ).alias("spans"),
        F.count("*").cast("bigint").alias("n_spans"),
        F.sum("span_len").cast("bigint").alias("chars_removed"),
    )
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("text"),
        *[F.col(c) for c in carry_cols],
    )
    empty = F.array().cast("array<struct<s:int,e:int>>")
    j = base.join(per_doc, "doc_id", "left").select(
        "doc_id",
        "text",
        F.coalesce("spans", empty).alias("spans"),
        F.coalesce("n_spans", F.lit(0).cast("bigint")).alias("n_spans"),
        F.coalesce("chars_removed", F.lit(0).cast("bigint")).alias("chars_removed"),
        *[F.col(c) for c in carry_cols],
    )
    acc0 = F.struct(F.lit(1).alias("pos"), F.lit("").alias("acc"))
    stitched = F.aggregate(
        "spans",
        acc0,
        lambda a, sp: F.struct(
            sp["e"].alias("pos"),
            F.concat(
                a["acc"], F.col("text").substr(a["pos"], sp["s"] - a["pos"])
            ).alias("acc"),
        ),
        lambda a: F.concat(
            a["acc"],
            F.col("text").substr(a["pos"], F.length("text") - a["pos"] + 1),
        ),
    )
    return j.select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_chars"),
        "n_spans",
        "chars_removed",
        (F.length("text") - F.col("chars_removed")).cast("bigint").alias("n_kept"),
        stitched.alias("cleaned_text"),
        *[F.col(c) for c in carry_cols],
    )


def corpus_winnow_fingerprints(
    corpus: DataFrame,
    min_len: int = 40,
    k: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, pos, fp) winnow fingerprints of a STANDING corpus, with the
    (k, w) pairing ``incremental_dup_spans`` derives from ``min_len`` —
    compute once and ``.persist()`` when the corpus is probed repeatedly
    (a streaming ingest door fingerprints the same static corpus every
    micro-batch otherwise; the fingerprint table is ~2/(w+1) of the corpus'
    gram count, so caching it is the scale move, re-scanning 100 TB per
    trigger is not). Pass the result as ``corpus_fp=`` to
    ``incremental_dup_spans`` / ``incremental_substring_scrub`` called with
    the SAME ``min_len`` and ``k``."""
    if not 1 <= k <= min_len:
        raise ValueError(f"winnow fingerprints need 1 <= k <= min_len, got k={k}")
    w = min_len - k + 1
    return winnow_fingerprints_fast(corpus, k=k, w=w, id_col=id_col, text_col=text_col)


def corpus_doc_fingerprints(
    corpus: DataFrame,
    min_len: int = 40,
    k: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
    corpus_fp: DataFrame | None = None,
) -> DataFrame:
    """Per-document fingerprint table for the TRICKLE door fast path:
    (doc_id, text, fp_pos: array<long>, fp_val: array<long>) — one row per
    corpus doc holding its text plus ALL its winnow fingerprints as
    parallel arrays. ``incremental_scrub_local`` probes this with a single
    mapInPandas scan per micro-batch: no joins, no broadcast exchanges, no
    shuffles inside the trigger. Compute once at stream start and
    ``.persist()`` (same lifecycle as ``corpus_winnow_fingerprints``).

    Docs shorter than ``min_len`` are dropped — they cannot contain a
    ``min_len``-char window, and every doc of length >= min_len has
    >= 1 fingerprint (n_grams = len-k+1 >= w), so the inner join loses
    nothing the scrub could use."""
    fp = (
        corpus_fp
        if corpus_fp is not None
        else corpus_winnow_fingerprints(
            corpus, min_len=min_len, k=k, id_col=id_col, text_col=text_col
        )
    )
    grouped = fp.groupBy("doc_id").agg(
        F.collect_list("pos").alias("fp_pos"),
        F.collect_list("fp").alias("fp_val"),
    )
    par = corpus.sparkSession.sparkContext.defaultParallelism
    # stamp the build config as FIELD METADATA (survives persist AND a
    # parquet round trip in Spark's schema blob): incremental_scrub_local
    # validates it against its own (min_len, k) so a cache built with one
    # config and probed with another raises instead of silently mis-scrubbing
    # (ADVICE r10)
    cfg = {"scrub_min_len": int(min_len), "scrub_k": int(k)}
    return (
        corpus.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
        .filter(F.length("text") >= min_len)
        .join(grouped, "doc_id")
        .select(
            "doc_id",
            "text",
            F.col("fp_pos").alias("fp_pos", metadata=cfg),
            F.col("fp_val").alias("fp_val", metadata=cfg),
        )
        .repartition(par)
    )


# Worker-side memo for the trickle door: Spark reuses python workers across
# tasks and micro-batches, so the arriving batch's candidate-window table is
# derived from the (tiny) broadcast payload ONCE per worker per batch, not
# once per task. Keyed on the batch token; bounded to one entry.
_LOCAL_SCRUB_MEMO: dict = {}


def _local_batch_windows(token, ids, texts, min_len: int, k: int, w: int):
    """(sorted fp array, {window_string: [(batch_doc_id, pos), ...]}) for
    the arriving micro-batch — the batch side of the scrub computed in
    plain numpy/python. Candidates expand around ALL batch fingerprints
    (a superset of the distributed path's matched-only narrowing); the
    final window-string equality keeps the OUTPUT identical: any corpus
    window equal to a batch window shares its in-window selected gram
    (SIGMOD'03 rule is content-determined), so extra batch candidates can
    never create a mark, and no mark is lost because the corpus side still
    filters on the batch's full fingerprint set."""
    ent = _LOCAL_SCRUB_MEMO.get(token)
    if ent is not None:
        return ent
    import numpy as np

    f_idx, f_pos, f_val = _winnow_kernel(list(range(len(texts))), texts, k, w)
    fp_arr = np.unique(np.asarray(f_val, dtype=np.int64))
    by_doc: dict[int, list[int]] = {}
    for di, p in zip(f_idx, f_pos):
        by_doc.setdefault(di, []).append(p)
    win: dict[str, list] = {}
    for di, ps in by_doc.items():
        t = texts[di]
        n_chars = len(t)
        hi = n_chars - (min_len - 1)
        if hi < 1:
            continue
        # ascii docs: a matching window's selected gram lies < w chars
        # after the window start; multi-byte chars shrink k bytes to fewer
        # chars, so the reach-back widens to min_len-1 (same rule as the
        # distributed path's `slack` expression)
        slack = (w - 1) if len(t.encode("utf-8")) == n_chars else (min_len - 1)
        qs = np.asarray(ps, dtype=np.int64)
        los = np.maximum(1, qs - slack)
        tops = np.minimum(qs, hi)
        keep = tops >= los
        starts = np.unique(
            np.concatenate(
                [np.arange(lo, top + 1) for lo, top in zip(los[keep], tops[keep])]
            )
        ) if keep.any() else np.empty(0, dtype=np.int64)
        did = ids[di]
        for st in starts.tolist():
            win.setdefault(t[st - 1 : st - 1 + min_len], []).append((did, st))
    ent = (fp_arr, win)
    _LOCAL_SCRUB_MEMO.clear()
    _LOCAL_SCRUB_MEMO[token] = ent
    return ent


def incremental_scrub_local(
    spark,
    corpus_doc_fp: DataFrame,
    ids: list,
    texts: list,
    min_len: int = 40,
    k: int = 32,
) -> list[tuple[int, int, str]]:
    """TRICKLE-door twin of ``incremental_substring_scrub``: the arriving
    micro-batch lives as driver-side lists; the standing corpus is probed
    with ONE distributed scan of ``corpus_doc_fingerprints``'s table. Per
    trigger this costs exactly one Spark job — no broadcast exchanges
    (the batch ships as a tiny sc.broadcast payload, expanded per worker
    via a batch-token memo), no corpus joins, no localCheckpoint — which
    is what a 200-doc trickle batch's latency is made of (VERDICT r9
    task 1: per-trigger JOB COUNT, not data work).

    Returns [(n_spans, chars_removed, cleaned_text), ...] aligned with
    the inputs. Differential-tested byte-identical against the
    distributed ``incremental_substring_scrub`` (tests/test_streaming.py).

    Scale shape: the corpus side stays fully distributed (the persisted
    per-doc fingerprint table is the ~2/(w+1)-density cache, scanned
    map-only); only the arriving batch is driver-local, and the ingest
    door bounds that by ``local_door_max_chars`` before choosing this
    path. ``ids`` must be unique and non-null (the door dedups first)."""
    if not ids:
        return []
    if not 1 <= k <= min_len:
        raise ValueError(f"scrub needs 1 <= k <= min_len, got k={k}")
    # config-mismatch guard (ADVICE r10): corpus_doc_fingerprints stamps its
    # (min_len, k) into field metadata — probing a cache built under a
    # different config would silently produce wrong scrub output, so raise.
    # Tables without the stamp (pre-round-11 caches) pass through unchecked.
    fp_meta = corpus_doc_fp.schema["fp_pos"].metadata or {}
    stamped = (fp_meta.get("scrub_min_len"), fp_meta.get("scrub_k"))
    if stamped[0] is not None and stamped != (min_len, k):
        raise ValueError(
            f"corpus_doc_fp was built with (min_len, k)={stamped}, but this "
            f"scrub call uses ({min_len}, {k}) — rebuild the fingerprint "
            "table with matching parameters"
        )
    w = min_len - k + 1
    import uuid

    token = uuid.uuid4().hex
    payload = (token, list(ids), list(texts), min_len, k, w)
    bc = spark.sparkContext.broadcast(payload)
    id_field = corpus_doc_fp.schema["doc_id"]

    def probe(batches):
        import numpy as np
        import pandas as pd

        tok, b_ids, b_texts, ml, kk, ww = bc.value
        fp_arr, win = _local_batch_windows(tok, b_ids, b_texts, ml, kk, ww)
        seen: set = set()
        for pdf in batches:
            if not len(fp_arr) or not win:
                continue
            for t, fpos, fval in zip(pdf["text"], pdf["fp_pos"], pdf["fp_val"]):
                fval = np.asarray(fval, dtype=np.int64)
                # positions of corpus fingerprints present in the batch
                idx = np.searchsorted(fp_arr, fval)
                idx[idx == len(fp_arr)] = 0
                hit = fp_arr[idx] == fval
                if not hit.any():
                    continue
                qs = np.asarray(fpos, dtype=np.int64)[hit]
                n_chars = len(t)
                hi = n_chars - (ml - 1)
                if hi < 1:
                    continue
                slack = (ww - 1) if len(t.encode("utf-8")) == n_chars else (ml - 1)
                los = np.maximum(1, qs - slack)
                tops = np.minimum(qs, hi)
                keep = tops >= los
                if not keep.any():
                    continue
                starts = np.unique(
                    np.concatenate(
                        [np.arange(lo, top + 1)
                         for lo, top in zip(los[keep], tops[keep])]
                    )
                )
                for st in starts.tolist():
                    hits = win.get(t[st - 1 : st - 1 + ml])
                    if hits:
                        seen.update(hits)
        yield pd.DataFrame(
            {"doc_id": [p[0] for p in seen], "pos": [p[1] for p in seen]}
        )

    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("doc_id", id_field.dataType),
        T.StructField("pos", T.LongType()),
    ])
    try:
        # per-task dedup above bounds the collect by (tasks x batch
        # windows); the global dedup is a driver-side set union
        marked: dict = {}
        for r in kernel.map_batches(corpus_doc_fp, probe, schema).collect():
            marked.setdefault(r["doc_id"], set()).add(r["pos"])
    finally:
        bc.unpersist(blocking=False)

    out = []
    for did, t in zip(ids, texts):
        poss = marked.get(did)
        if not poss:
            out.append((0, 0, t))
            continue
        # gaps-and-islands merge of [pos, pos+min_len) covers — the python
        # twin of _merge_marked_windows — then the apply_span_removal
        # stitch (1-based char [start, end) slicing)
        spans = []
        cur_s = cur_e = None
        for p in sorted(poss):
            if cur_e is None or p > cur_e:
                if cur_e is not None:
                    spans.append((cur_s, cur_e))
                cur_s, cur_e = p, p + min_len
            else:
                cur_e = max(cur_e, p + min_len)
        spans.append((cur_s, cur_e))
        pieces = []
        pos = 1
        for s, e in spans:
            pieces.append(t[pos - 1 : s - 1])
            pos = e
        pieces.append(t[pos - 1 :])
        removed = sum(e - s for s, e in spans)
        out.append((len(spans), removed, "".join(pieces)))
    return out


def incremental_dup_spans(
    corpus: DataFrame,
    new_docs: DataFrame,
    min_len: int = 40,
    id_col: str = "doc_id",
    text_col: str = "text",
    prefilter: str | None = "winnow",
    k: int = 32,
    corpus_fp: DataFrame | None = None,
) -> DataFrame:
    """Exact-substring dedup AT THE INGEST DOOR: for every NEW document,
    the maximal spans whose stride-1 ``min_len``-char windows occur
    verbatim anywhere in the EXISTING corpus — the span-level member of
    the incremental family (``bloom_incremental`` doc-level,
    ``simhash_incremental_pairs`` near-dup, ``banded_hamming_join``
    perceptual). Returns (doc_id, span_start, span_end, span_len) for new
    docs, 1-based [start, end) — feed to ``exact_substring_scrub``-style
    stitching or reject the doc outright.

    Scale shape (the whole point): with ``prefilter='winnow'`` (default)
    the corpus pays only a fingerprint scan at ~2/(w+1) density — never
    the stride-1 window blowup. The new batch's fingerprints broadcast
    (micro-batch ≪ corpus); only corpus docs sharing a fingerprint (the
    cohort) expand to windows. Lossless by the SIGMOD'03 guarantee: any
    cross-side duplicate of length >= w + k - 1 = min_len shares a
    selected fingerprint, so the cohort contains every corpus doc that
    could mark a window. ``prefilter=None`` is the direct two-sided
    window semi-join (what the SQL oracle mirrors).

    ``corpus_fp``: pre-computed (and typically persisted) corpus
    fingerprints from ``corpus_winnow_fingerprints`` with the same
    (min_len, k) — skips re-fingerprinting the standing corpus on every
    call, which is what a streaming door needs (the corpus is static
    across micro-batches; only the new batch's side changes)."""
    # null-id arriving rows are excluded up front on BOTH paths: a span
    # cannot be attributed (or later stitched — apply_span_removal keys on
    # doc_id) without an id, and the round-9 candidate join would silently
    # drop them from the winnow path anyway — one explicit rule instead of
    # two divergent implicit ones (same semantic as exact_dup_spans).
    new_docs = new_docs.filter(F.col(id_col).isNotNull())
    if prefilter == "winnow":
        if not 1 <= k <= min_len:
            raise ValueError(f"winnow prefilter needs 1 <= k <= min_len, got k={k}")
        w = min_len - k + 1
        # no .distinct() before the broadcast: a semi-join build side
        # tolerates duplicate keys, and the distinct was one extra shuffle
        # per micro-batch (round-9 door latency work)
        # (r13: a lazy localCheckpoint here — the batch kernel is traversed
        # twice — A/B'd a WASH at sf0.1, swamped by window noise
        # (BENCH_RUNS_r13.json.scrub_ab), so it is NOT taken; the corpus-
        # side checkpoint below stays on its r12 structural argument)
        new_fp_full = winnow_fingerprints_fast(
            new_docs, k=k, w=w, id_col=id_col, text_col=text_col
        )
        # one-shot callers (no cached corpus_fp) would otherwise run the
        # corpus kernel TWICE — `matched` sits under both the corpus-side
        # candidates and the matched-fp derivation, and a mapInPandas
        # subtree is not an exchange Spark can reuse. A LAZY local
        # checkpoint materializes the fingerprints once on first use and
        # serves the second traversal from executor blocks.
        corp_fp = (
            corpus_fp
            if corpus_fp is not None
            else winnow_fingerprints_fast(
                corpus, k=k, w=w, id_col=id_col, text_col=text_col
            ).localCheckpoint(eager=False)
        )
        # NARROWED expansion on BOTH sides (round 9; lossless): a corpus
        # window that equals a new-doc window is a shared substring of
        # length exactly w + k - 1, so winnowing selects the same gram on
        # both sides INSIDE it — every matching window (either side)
        # contains a MATCHED fingerprint, and only the <= w window starts
        # reaching back from each matched gram can match. The old shape
        # expanded every stride-1 window of every cohort corpus doc AND of
        # the whole arriving batch (per micro-batch, the batch's ~n_chars
        # window set built and broadcast every trigger); this shape pays
        # proportional to MATCHED FINGERPRINTS on both sides — at 100 TB
        # the difference between re-scanning hot boilerplate docs every
        # micro-batch and touching a few hundred candidate offsets.
        # Fingerprint positions are char-based; for non-ASCII docs the
        # gram may start mid-char and k bytes span fewer than k chars, so
        # the reach-back widens to min_len - 1 there.
        matched = corp_fp.join(
            F.broadcast(new_fp_full.select("fp")), "fp", "left_semi"
        )
        # which of the BATCH's fingerprints matched: the fp values
        # surviving the corpus semi-join (bounded by the batch fp count)
        # re-broadcast into the batch's own fingerprint table. `matched`
        # is traversed twice (here and for the corpus candidates) — free
        # when corp_fp is a persisted door cache; a one-shot caller
        # without corpus_fp pays the corpus kernel twice.
        matched_fps = matched.select("fp").distinct()
        matched_new = new_fp_full.join(F.broadcast(matched_fps), "fp", "left_semi")

        slack = F.when(
            F.octet_length(text_col) == F.length(text_col), F.lit(w - 1)
        ).otherwise(F.lit(min_len - 1))
        hi_bound = F.length(text_col) - (min_len - 1)
        starts_arr = F.array_distinct(
            F.flatten(
                F.transform(
                    F.col("qs"),
                    lambda q: F.sequence(
                        F.greatest(F.lit(1).cast("long"), q - slack),
                        F.least(q, hi_bound.cast("long")),
                    ),
                )
            )
        )
        par = corpus.sparkSession.sparkContext.defaultParallelism

        def cand_windows(side_docs: DataFrame, side_fps: DataFrame, keep_id: bool):
            cand = side_fps.groupBy("doc_id").agg(
                F.collect_set("pos").alias("qs")
            )
            # broadcast only the BATCH side's candidates (bounded by the
            # arriving batch). The corpus side's matched-doc set is
            # bounded by the CORPUS — a hot boilerplate fingerprint can
            # match millions of docs — so the planner/AQE picks the join
            # strategy there (broadcast when small, shuffle when not)
            # instead of a forced driver collect.
            if keep_id:
                cand = F.broadcast(cand)
            short = side_docs.filter(F.length(text_col) >= min_len)
            joined = short.join(
                cand, short[id_col] == cand["doc_id"]
            ).select(
                short[id_col].alias("doc_id"), F.col(text_col),
                starts_arr.alias("ps"),
            )
            if not keep_id:
                joined = joined.drop("doc_id")
            # spread BEFORE the explode: a limit()/small-file source often
            # sits in one partition, and the candidate-window expansion is
            # the CPU-heavy step (same move as _char_windows)
            win = joined.repartition(par).select(
                *(["doc_id"] if keep_id else []),
                F.explode("ps").alias("pos"),
                F.col(text_col),
            ).select(
                *(["doc_id", "pos"] if keep_id else []),
                F.col(text_col).substr(F.col("pos"), F.lit(min_len)).alias("s"),
            )
            return win

        corp_win = cand_windows(corpus, matched, keep_id=False)
        new_win = cand_windows(new_docs, matched_new, keep_id=True)
    else:
        new_win = _char_windows(new_docs, min_len, id_col, text_col)
        corp_win = _char_windows(corpus, min_len, id_col, text_col).select("s")
    # the micro-batch's windows BROADCAST; candidate corpus windows stream
    # against the hash with NO corpus-side shuffle (no distinct either —
    # per-occurrence duplicates collapse in the tiny dropDuplicates over
    # the marked output, which is bounded by the new batch's window count)
    marked = (
        corp_win.join(F.broadcast(new_win), "s")
        .select("doc_id", "pos")
        .dropDuplicates(["doc_id", "pos"])
    )
    return _merge_marked_windows(marked, min_len)


def incremental_substring_scrub(
    corpus: DataFrame,
    new_docs: DataFrame,
    min_len: int = 40,
    id_col: str = "doc_id",
    text_col: str = "text",
    prefilter: str | None = "winnow",
    k: int = 32,
    corpus_fp: DataFrame | None = None,
    carry_cols: list[str] | None = None,
    probe_empty_spans: bool = False,
) -> DataFrame:
    """Clean arriving documents AT THE DOOR: ``incremental_dup_spans``
    marks every region of a new doc that already exists verbatim in the
    standing corpus, and the shared stitch emits the cleaned text with
    removal accounting — the ingest-time APPLY (docs leave the door
    containing no >= min_len substring the corpus already holds; corpus
    cost is the winnow fingerprint scan, never the stride-1 blowup; pass
    a persisted ``corpus_fp`` from ``corpus_winnow_fingerprints`` to pay
    that scan once across many calls, e.g. per-micro-batch).

    ``carry_cols``: extra ``new_docs`` columns echoed through (see
    ``apply_span_removal``) so a caller gets the full row back without a
    second keyed join against its own batch.

    ``probe_empty_spans``: run one bounded driver probe (``limit(1)``)
    on the span set first; when it is EMPTY the stitch-and-join
    machinery is skipped entirely and the result is a pure projection
    of ``new_docs`` with zero-removal accounting. Identical output
    either way. MEASURED NEGATIVE at the ingest door (round 9): the
    probe is its own job over the whole span plan, and boilerplate-heavy
    corpora make spans NONEMPTY almost every batch, so the plan ran
    twice (2.0-2.7s vs 0.8s probe-off at 200-doc batches). Only enable
    it when arriving docs genuinely share nothing with the corpus."""
    spans = incremental_dup_spans(
        corpus, new_docs, min_len, id_col, text_col, prefilter, k, corpus_fp
    )
    if probe_empty_spans and not spans.limit(1).take(1):
        zero = F.lit(0).cast("bigint")
        return new_docs.select(
            F.col(id_col).alias("doc_id"),
            F.length(text_col).cast("bigint").alias("n_chars"),
            zero.alias("n_spans"),
            zero.alias("chars_removed"),
            F.length(text_col).cast("bigint").alias("n_kept"),
            F.col(text_col).alias("cleaned_text"),
            *[F.col(c) for c in (carry_cols or [])],
        )
    return apply_span_removal(new_docs, spans, id_col, text_col, carry_cols)


def benchmark_span_decontaminate(
    docs: DataFrame,
    eval_sources: list[str],
    min_len: int = 40,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Span-level benchmark decontamination (the GPT-3 appendix-C /
    Lee et al. 2021 move, and what ``benchmark_contamination`` only FLAGS):
    every maximal region of a training document covered by stride-1
    ``min_len``-char windows that occur VERBATIM anywhere in the eval set
    — the exact char ranges a decontamination pass cuts out, rather than a
    whole-document drop that wastes the clean 99% of a barely-contaminated
    doc. Returns (doc_id, span_start, span_end, span_len), 1-based
    [start, end), training docs only.

    Exactness: identical argument to ``exact_dup_spans`` — any shared
    substring of length >= min_len contains a shared window of exactly
    min_len, and every char of it lies in one, so merged islands are
    precisely the maximal leaked regions.

    Scale shape: eval benchmarks are tiny next to a training corpus, so
    the eval window set broadcasts; training windows hit it with one
    semi-join (no inverted-index shuffle over the corpus at all — CHEAPER
    than self-dedup), then the per-doc island merge. At 100 TB the
    stride-1 blowup on the training side is the cost; winnow-prefilter
    against eval fingerprints the same way exact_dup_spans does if needed.
    """
    # coalesce: NULL-source docs are training docs, not unfilterable limbo
    # (NULL.isin(...) is NULL; both branches would drop the row).
    is_eval = F.coalesce(F.col(source_col).isin(*eval_sources), F.lit(False))
    eval_win = (
        _char_windows(docs.filter(is_eval), min_len, id_col, text_col)
        .select("s")
        .distinct()
    )
    train_win = _char_windows(docs.filter(~is_eval), min_len, id_col, text_col)
    marked = train_win.join(F.broadcast(eval_win), "s", "left_semi").select(
        "doc_id", "pos"
    )
    return _merge_marked_windows(marked, min_len)


# ---------------------------------------------------------------------------
# Intra-document exact repetition via suffix automaton
# ---------------------------------------------------------------------------

def _sam_longest_repeat(symbols: list) -> int:
    """Length of the longest subsequence of consecutive ``symbols`` that
    occurs at least twice (overlaps allowed), via the classic suffix
    automaton construction (Blumer et al. 1985; the linear-time structure
    Lee et al. 2022's ExactSubstr deduplication is built on). O(n) states,
    O(n·Σ) time with dict transitions.

    The answer is max(len(v)) over states whose endpos-class size ≥ 2;
    endpos sizes propagate up suffix links (clones seed 0, originals 1).
    """
    if len(symbols) < 2:
        return 0
    # state arrays: length, suffix link, transitions, endpos seed
    length = [0]
    link = [-1]
    trans: list[dict] = [{}]
    cnt = [0]
    last = 0
    for ch in symbols:
        cur = len(length)
        length.append(length[last] + 1)
        link.append(-1)
        trans.append({})
        cnt.append(1)
        p = last
        while p != -1 and ch not in trans[p]:
            trans[p][ch] = cur
            p = link[p]
        if p == -1:
            link[cur] = 0
        else:
            q = trans[p][ch]
            if length[p] + 1 == length[q]:
                link[cur] = q
            else:
                clone = len(length)
                length.append(length[p] + 1)
                link.append(link[q])
                trans.append(dict(trans[q]))
                cnt.append(0)
                while p != -1 and trans[p].get(ch) == q:
                    trans[p][ch] = clone
                    p = link[p]
                link[q] = clone
                link[cur] = clone
        last = cur
    # propagate endpos sizes in decreasing-length order
    order = sorted(range(1, len(length)), key=length.__getitem__, reverse=True)
    for v in order:
        if link[v] > 0:
            cnt[link[v]] += cnt[v]
    best = 0
    for v in range(1, len(length)):
        if cnt[v] >= 2 and length[v] > best:
            best = length[v]
    return best


def longest_intra_doc_repeat(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document longest repeated token sequence — the exact version of
    Gopher's dup-n-gram-fraction repetition signals (a document whose
    longest repeat is huge is boilerplate or a scrape loop).

    Spark-first shape: tokenization stays in the JVM (``tokens_expr``);
    only the token arrays cross into an Arrow-batched ``mapInPandas``
    where the suffix automaton runs linear per doc. No shuffle at all —
    a pure map stage, embarrassingly parallel at any corpus size. Docs
    with zero tokens are dropped (no sequence → no metric).
    """
    from frappe_data_pipelines_spark.functions.text import tokens_expr
    from frappe_data_pipelines_spark.sources.tables import spread_scan

    # spread the RAW rows before tokenizing (a small one-file corpus scans
    # as ONE partition — without the spread both tokenize and the automaton
    # run on a single core), and drop zero-token docs INSIDE the kernel:
    # a .where(size(toks) >= 1) is pushed into the scan with the tokenize
    # subtree substituted — a duplicate, serialized tokenize pass (r12
    # plan audit). A Python pass may change cardinality, so the kernel-side
    # drop is exactly equivalent.
    base = spread_scan(
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    ).select("doc_id", tokens_expr(F.col("text")).alias("toks"))

    def row(doc_id, toks):
        # null-safe (ADVICE r12): tokens_expr(null text) yields a null
        # array which arrives here as None — len(None) would kill the
        # scan; the pre-r12 .where(size(toks) >= 1) dropped such rows
        # silently and the kernel-side drop must keep that totality
        if toks is None or len(toks) == 0:
            return []
        return [(doc_id, _sam_longest_repeat(list(toks)))]

    return kernel.map_rows(base, row, "doc_id long, max_repeat_tokens long")


def soft_dedup_weights(
    docs: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Soft deduplication: REWEIGHT common documents instead of removing
    them (the SoftDedup idea — He et al. 2024, "SoftDedup: an Efficient
    Data Reweighting Method for Speeding Up Language Model Pretraining":
    hard removal throws away the signal that popular text carries; a
    per-sample "commonness" score lets training keep every document but
    spend less compute on duplicated content).

    Commonness here is the mean log document-frequency of the document's
    DISTINCT word n-grams: c_d = mean_{g∈G_d} ln(df(g)), with df counted
    over distinct (doc, gram) pairs corpus-wide. A document whose n-grams
    appear nowhere else gets c_d = 0 (ln 1) and weight 1; boilerplate that
    recurs in thousands of docs gets weight → 0 under
    w_d = 1 / (1 + c_d).

    Scale shape: two bounded shuffles — one on the n-gram (the df count,
    map-side combined) and one back on doc_id (the mean) — the same keys
    the hard-dedup path (``ngram_jaccard_pairs``) already shuffles on, no
    pair enumeration and no n² term anywhere. Cross-engine determinism:
    per-gram ln(df) is rounded to 6 decimals and accumulated in DECIMAL,
    so the mean is summation-order exact.
    """
    from frappe_data_pipelines_spark.functions.text import tokens_expr
    from frappe_data_pipelines_spark.sources.tables import spread_scan

    base = spread_scan(
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    )
    toks = base.select(
        "doc_id", tokens_expr(F.col("text")).alias("toks")
    )
    # short docs are dropped by a null-yielding WHEN inside the single
    # projection, NOT a .filter(size(toks) >= n): Catalyst pushes such a
    # filter below the spread shuffle into the scan with the tokenize
    # subtree substituted — a second, serialized tokenize pass over the
    # corpus (r12 plan audit). explode(null) yields no rows, so the
    # result is identical: docs with < n tokens produce no gram rows
    # and are absent from the output either way.
    grams = toks.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.when(
                        F.size("toks") >= n,
                        F.sequence(F.lit(0), F.size("toks") - n),
                    ),
                    lambda i: F.concat_ws(" ", F.slice(F.col("toks"), i + 1, n)),
                )
            )
        ).alias("gram"),
    )
    # df(gram) via a whole-partition window instead of groupBy + self-join:
    # one shuffle on the gram key annotates every (doc, gram) row with its
    # document frequency in place — no second tokenize branch, no broadcast
    # hash relation of millions of gram strings, no join. The window frame
    # is the full gram partition (no orderBy), so this is a hash-window
    # count, not a running sort.
    from pyspark.sql import Window

    per_gram = grams.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("gram"))
    )
    per_doc = (
        per_gram.withColumn(
            "lndf", F.round(F.log(F.col("df").cast("double")), 6).cast("decimal(28,6)")
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_ngrams"),
            F.sum("lndf").alias("sum_lndf"),
        )
    )
    commonness = F.col("sum_lndf").cast("double") / F.col("n_ngrams").cast("double")
    return per_doc.select(
        "doc_id",
        "n_ngrams",
        F.round(commonness, 6).alias("commonness"),
        F.round(F.lit(1.0) / (F.lit(1.0) + commonness), 6).alias("weight"),
    )
