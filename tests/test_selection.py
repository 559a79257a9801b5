"""DSIR importance weighting (operators/selection.py)."""

import pytest
from pyspark.sql import functions as F

from frappe_data_pipelines_spark.operators.selection import dsir_select, dsir_weights
from frappe_data_pipelines_spark.sources.tables import load_table


def test_target_docs_score_higher_on_average(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    w = dsir_weights(docs, F.col("lang") == "en").join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    means = {
        r["is_en"]: r["m"]
        for r in w.groupBy((F.col("lang") == "en").alias("is_en"))
        .agg(F.avg("dsir_weight").alias("m"))
        .collect()
    }
    # the estimator's whole point: in-domain docs get higher log-ratios
    assert means[True] > means[False]


def test_weights_cover_all_nonempty_docs(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    w = dsir_weights(docs, F.col("lang") == "en")
    n_nonempty = docs.filter(
        F.size(F.filter(F.split(F.lower("text"), "[^a-z0-9]+"), lambda t: t != "")) > 0
    ).count()
    assert w.count() == n_nonempty
    assert w.filter(F.col("dsir_weight").isNull()).count() == 0


def test_hashed_buckets_deterministic_and_partition_invariant(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    a = dsir_weights(docs, F.col("lang") == "en", n_buckets=4096)
    b = dsir_weights(docs.repartition(11), F.col("lang") == "en", n_buckets=4096)
    assert {tuple(r) for r in a.collect()} == {tuple(r) for r in b.collect()}


def test_select_is_topk_of_weights(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    w = {r["doc_id"]: r["dsir_weight"] for r in dsir_weights(docs, F.col("lang") == "en").collect()}
    sel = dsir_select(docs, F.col("lang") == "en", k=25).collect()
    assert len(sel) == 25
    want = sorted(w.items(), key=lambda kv: (-kv[1], kv[0]))[:25]
    assert [(r["doc_id"], r["dsir_weight"]) for r in sel] == want


def test_lm_perplexity_buckets_semantics(spark, sf_dir):
    """Head bucket strictly outscores tail; terciles are balanced within 1;
    every non-empty document is bucketed exactly once."""
    from frappe_data_pipelines_spark.operators.selection import lm_perplexity_buckets
    from frappe_data_pipelines_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = lm_perplexity_buckets(docs, F.col("lang") == "en").collect()
    by_bucket: dict[str, list[float]] = {}
    for r in out:
        by_bucket.setdefault(r.ppl_bucket, []).append(r.lm_score)
    assert set(by_bucket) == {"head", "middle", "tail"}
    sizes = sorted(len(v) for v in by_bucket.values())
    assert sizes[-1] - sizes[0] <= 1
    assert min(by_bucket["head"]) >= max(by_bucket["tail"])
    n_nonempty = docs.where(F.length(F.trim("text")) > 0).count()
    assert len(out) == n_nonempty


class TestTokenBudget:
    def _docs(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_budget_boundary_mid_bucket(self, spark):
        # three docs share the top score (all stopwords); budget cuts the
        # boundary bucket after two of them, ordered by doc_id
        from frappe_data_pipelines_spark.operators.selection import (
            token_budget_select,
        )

        docs = self._docs(spark, [
            (1, "the of and in"),        # score 1.0, 4 tokens
            (2, "the a an or"),          # score 1.0, 4 tokens
            (3, "the to is it"),         # score 1.0, 4 tokens
            (4, "spark engine rows"),    # score 0.0
        ])
        got = sorted(r["doc_id"] for r in token_budget_select(docs, 8).collect())
        assert got == [1, 2]

    def test_whole_corpus_fits(self, spark):
        from frappe_data_pipelines_spark.operators.selection import (
            token_budget_select,
        )

        docs = self._docs(spark, [(1, "the table"), (2, "a scan")])
        got = token_budget_select(docs, 1_000_000)
        assert got.count() == 2

    def test_empty_token_docs_excluded(self, spark):
        from frappe_data_pipelines_spark.operators.selection import (
            token_budget_select,
        )

        docs = self._docs(spark, [(1, "the table scan"), (2, "!!!"), (3, "")])
        got = [r["doc_id"] for r in token_budget_select(docs, 100).collect()]
        assert got == [1]

    def test_total_selected_tokens_within_budget(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from frappe_data_pipelines_spark.operators.selection import (
            token_budget_select,
        )
        from frappe_data_pipelines_spark.sources.tables import load_table

        docs = load_table(spark, sf_dir, "documents")
        sel = token_budget_select(docs, 15_000)
        total = sel.agg(F.sum("n_tokens")).first()[0]
        assert total <= 15_000
        # greedy maximality: the worst unkept doc cannot fit in the slack
        kept_min = sel.agg(F.min("score")).first()[0]
        assert kept_min is not None


class TestMooreLewis:
    def test_scores_and_selection_semantics(self, spark):
        from frappe_data_pipelines_spark.operators.selection import (
            moore_lewis_scores,
        )

        rows = [
            # in-domain docs speak "alpha beta"; general docs "gamma delta"
            (1, "in", "alpha beta alpha beta"),
            (2, "in", "alpha beta beta"),
            (3, "out", "gamma delta gamma"),
            (4, "out", "delta delta gamma"),
            (5, "?", "alpha beta alpha"),   # looks in-domain
            (6, "?", "gamma delta delta"),  # looks general
        ]
        docs = spark.createDataFrame(rows, "doc_id long, src string, text string")
        got = {
            r["doc_id"]: r
            for r in moore_lewis_scores(docs, F.col("src") == "in").collect()
        }
        assert got[5]["ce_diff"] < 0 and got[5]["selected"]
        assert got[6]["ce_diff"] > 0 and not got[6]["selected"]
        # the training docs themselves score strongly toward their own LM
        assert got[1]["ce_diff"] < got[3]["ce_diff"]
        assert got[1]["n_tokens"] == 4

    def test_explicit_general_pred(self, spark):
        from frappe_data_pipelines_spark.operators.selection import (
            moore_lewis_scores,
        )

        docs = spark.createDataFrame(
            [(1, "a", "x y"), (2, "b", "x z"), (3, "c", "y z")],
            "doc_id long, src string, text string",
        )
        out = moore_lewis_scores(
            docs, F.col("src") == "a", out_pred=F.col("src") == "c",
            threshold=0.5,
        ).collect()
        assert len(out) == 3 and all(r["lm_in"] is not None for r in out)

    def test_empty_slice_raises(self, spark):
        from frappe_data_pipelines_spark.operators.selection import (
            moore_lewis_scores,
        )

        docs = spark.createDataFrame(
            [(1, "a", "x y")], "doc_id long, src string, text string"
        )
        with pytest.raises(ValueError, match="in_pred matches no documents"):
            moore_lewis_scores(docs, F.col("src") == "nope").collect()


class TestKneserNey:
    def test_continuation_beats_raw_frequency(self, spark):
        """The KN signature: a word seen in MANY contexts gets a higher
        backoff probability after a novel context than a word seen more
        often but always in the SAME context ('san francisco')."""
        from frappe_data_pipelines_spark.operators.selection import (
            kneser_ney_bigram_scores,
        )

        rows = [
            # training slice: 'francisco' occurs 4x, always after 'san';
            # 'city' occurs 3x after three DIFFERENT contexts
            (1, True, "san francisco san francisco san francisco san francisco"),
            (2, True, "big city small city old city"),
            # probes share the novel context 'the' → both back off; KN
            # must favor the many-context word
            (3, False, "the city"),
            (4, False, "the francisco"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, ref boolean, text string")
        got = {
            r["doc_id"]: r["kn_score"]
            for r in kneser_ney_bigram_scores(docs, F.col("ref")).collect()
        }
        assert got[3] > got[4]

    def test_in_domain_scores_higher_and_covers_docs(self, spark, sf_dir):
        from frappe_data_pipelines_spark.operators.selection import (
            kneser_ney_bigram_scores,
        )

        docs = load_table(spark, sf_dir, "documents")
        out = kneser_ney_bigram_scores(docs, F.col("lang") == "en")
        joined = out.join(docs.select("doc_id", "lang"), "doc_id")
        means = {
            r["is_en"]: r["m"]
            for r in joined.groupBy((F.col("lang") == "en").alias("is_en"))
            .agg(F.avg("kn_score").alias("m"))
            .collect()
        }
        assert means[True] > means[False]
        # every document with >= 2 tokens is scored exactly once
        n_multi = docs.filter(
            F.size(F.filter(F.split(F.lower("text"), "[^a-z0-9]+"), lambda t: t != "")) >= 2
        ).count()
        assert out.count() == n_multi
        assert out.filter(F.col("kn_score").isNull()).count() == 0

    def test_partition_invariant(self, spark, sf_dir):
        from frappe_data_pipelines_spark.operators.selection import (
            kneser_ney_bigram_scores,
        )

        docs = load_table(spark, sf_dir, "documents")
        a = kneser_ney_bigram_scores(docs, F.col("lang") == "en")
        b = kneser_ney_bigram_scores(docs.repartition(13), F.col("lang") == "en")
        assert {tuple(r) for r in a.collect()} == {tuple(r) for r in b.collect()}

    def test_empty_reference_raises(self, spark):
        from frappe_data_pipelines_spark.operators.selection import (
            kneser_ney_bigram_scores,
        )

        docs = spark.createDataFrame(
            [(1, "a", "x y")], "doc_id long, src string, text string"
        )
        with pytest.raises(ValueError, match="no bigrams"):
            kneser_ney_bigram_scores(docs, F.col("src") == "nope").collect()


class TestKneserNeyPersisted:
    """The KN build/serve split (kn_write / kn_read_score): persisted
    must equal from-scratch on the full scored relation — that identity
    is what lets kneser_ney_cached share kneser_ney_bigram_lm's oracle."""

    def test_persisted_equals_from_scratch(self, spark, sf_dir, tmp_path):
        from frappe_data_pipelines_spark.operators.selection import (
            kn_read_score,
            kn_write,
            kneser_ney_bigram_scores,
        )

        docs = load_table(spark, sf_dir, "documents")
        path = str(tmp_path / "kn_lm")
        meta = kn_write(docs, F.col("lang") == "en", path)
        assert meta["b"] > 0 and meta["v"] > 0
        served = kn_read_score(spark, docs, path)
        fresh = kneser_ney_bigram_scores(docs, F.col("lang") == "en")
        assert {tuple(r) for r in served.collect()} == {
            tuple(r) for r in fresh.collect()
        }

    def test_serves_unseen_batch(self, spark, tmp_path):
        """The production shape: train once on a reference corpus, score
        an ARRIVING batch the LM never saw — every multi-token doc gets a
        finite score (unseen contexts back off to the continuation
        distribution, never null/NaN)."""
        import math

        from frappe_data_pipelines_spark.operators.selection import (
            kn_read_score,
            kn_write,
        )

        ref = spark.createDataFrame(
            [(1, True, "the cat sat on the mat"),
             (2, True, "the dog sat on the rug")],
            "doc_id long, ref boolean, text string",
        )
        path = str(tmp_path / "kn_lm")
        kn_write(ref, F.col("ref"), path)
        batch = spark.createDataFrame(
            [(10, "the cat sat"), (11, "zebra quark flux")],
            "doc_id long, text string",
        )
        got = {r["doc_id"]: r for r in kn_read_score(spark, batch, path).collect()}
        assert set(got) == {10, 11}
        for r in got.values():
            assert r["kn_score"] is not None
            assert math.isfinite(r["kn_score"])
        # in-domain batch doc scores above the all-OOV one
        assert got[10]["kn_score"] > got[11]["kn_score"]

    def test_rebuild_over_existing_is_atomic(self, spark, tmp_path):
        """kn_write over an already-published LM swaps the whole dir
        (tmp-then-rename, meta last): the result equals a fresh build,
        and no .tmp-* residue is left behind."""
        import os

        from frappe_data_pipelines_spark.operators.selection import (
            kn_read_score,
            kn_write,
        )

        ref = spark.createDataFrame(
            [(1, True, "the cat sat on the mat"),
             (2, True, "the dog sat on the rug")],
            "doc_id long, ref boolean, text string",
        )
        path = str(tmp_path / "kn_lm")
        kn_write(ref, F.col("ref"), path)
        first = {tuple(r) for r in kn_read_score(spark, ref, path).collect()}
        kn_write(ref, F.col("ref"), path)  # rebuild over the published dir
        second = {tuple(r) for r in kn_read_score(spark, ref, path).collect()}
        assert first == second
        assert not [p for p in os.listdir(tmp_path) if ".tmp-" in p]

    def test_discount_mismatch_raises(self, spark, tmp_path):
        from frappe_data_pipelines_spark.operators.selection import (
            kn_read_score,
            kn_write,
        )

        ref = spark.createDataFrame(
            [(1, True, "a b a b")], "doc_id long, ref boolean, text string"
        )
        path = str(tmp_path / "kn_lm")
        kn_write(ref, F.col("ref"), path, discount=0.75)
        with pytest.raises(ValueError, match="discount"):
            kn_read_score(spark, ref, path, discount=0.5)

    def test_broadcast_gate_reads_uncompressed_footer_bytes(self, spark, tmp_path, monkeypatch):
        """The map-side broadcast shape is gated on the LM's uncompressed
        row-group bytes from the parquet footers: a limit between the
        compressed file bytes and that size keeps the shuffled shape."""
        import os

        import pyarrow.parquet as pq

        from frappe_data_pipelines_spark.operators.selection import (
            kn_load,
            kn_score_against,
            kn_write,
        )

        # long, distinct, highly compressible tokens
        words = ["x" * 400 + a + b for a in "abcdefghijklm" for b in "nopqrstu"]
        ref = spark.createDataFrame(
            [(1, True, " ".join(words))], "doc_id long, ref boolean, text string"
        )
        path = str(tmp_path / "kn_lm")
        kn_write(ref, F.col("ref"), path)
        bi, ctx, cont, meta = kn_load(spark, path)
        files = [
            os.path.join(root, fn)
            for sub in ("bi", "ctx", "cont")
            for root, _, fns in os.walk(os.path.join(path, sub))
            for fn in fns
            if fn.endswith(".parquet")
        ]
        disk = sum(os.path.getsize(f) for f in files)
        footer = 0
        for f in files:
            md = pq.read_metadata(f)
            footer += sum(md.row_group(i).total_byte_size for i in range(md.num_row_groups))
        assert meta["_lm_bytes"] == footer > 2 * disk

        def broadcasts(limit: int) -> bool:
            monkeypatch.setenv("FDP_KN_BROADCAST_MAX_BYTES", str(limit))
            scored = kn_score_against(ref, bi, ctx, cont, meta)
            return "strategy=broadcast" in scored._jdf.queryExecution().analyzed().toString()

        assert not broadcasts((disk + footer) // 2)
        assert broadcasts(footer)

    def test_empty_reference_raises(self, spark, tmp_path):
        from frappe_data_pipelines_spark.operators.selection import kn_write

        docs = spark.createDataFrame(
            [(1, "a", "x y")], "doc_id long, src string, text string"
        )
        with pytest.raises(ValueError, match="no bigrams"):
            kn_write(docs, F.col("src") == "nope", str(tmp_path / "kn_lm"))


class TestUniMax:
    def test_known_water_fill(self, spark):
        from frappe_data_pipelines_spark.operators.selection import (
            unimax_language_budgets,
        )

        # caps (2 epochs): a=8, b=16, c=40; budget 40
        # a saturated (8*3=24<=40), b saturated (16*2=32<=32), c gets 16
        rows = [
            (1, "a", "t1 t2 t3 t4"),
            (2, "b", "t1 t2 t3 t4 t5 t6 t7 t8"),
            (3, "c", " ".join(f"w{i}" for i in range(20))),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
        got = {
            r["lang"]: r
            for r in unimax_language_budgets(docs, total_budget=40, max_epochs=2).collect()
        }
        assert got["a"]["budget_tokens"] == 8.0 and got["a"]["epochs"] == 2.0
        assert got["b"]["budget_tokens"] == 16.0
        assert got["c"]["budget_tokens"] == 16.0 and got["c"]["epochs"] == 0.8

    def test_invariants_on_corpus(self, spark, sf_dir):
        from frappe_data_pipelines_spark.operators.selection import (
            unimax_language_budgets,
        )

        docs = load_table(spark, sf_dir, "documents")
        out = unimax_language_budgets(docs, total_budget=40_000, max_epochs=2).collect()
        total_caps = sum(r["cap_tokens"] for r in out)
        spent = sum(r["budget_tokens"] for r in out)
        # budget fully spent unless the whole corpus fits under the caps
        assert abs(spent - min(40_000, total_caps)) < 1e-3
        for r in out:
            assert r["budget_tokens"] <= r["cap_tokens"] + 1e-9
            assert r["epochs"] <= 2.0 + 1e-9
        # water level property: every budget-capped language sits at a
        # common level that is >= every saturated language's cap
        unsat = [r["budget_tokens"] for r in out if r["budget_tokens"] < r["cap_tokens"]]
        sat_caps = [r["cap_tokens"] for r in out if r["budget_tokens"] >= r["cap_tokens"]]
        if unsat:
            assert max(unsat) - min(unsat) < 1e-9
            if sat_caps:
                assert min(unsat) >= max(sat_caps) - 1e-9

    def test_partition_invariant(self, spark, sf_dir):
        from frappe_data_pipelines_spark.operators.selection import (
            unimax_language_budgets,
        )

        docs = load_table(spark, sf_dir, "documents")
        a = unimax_language_budgets(docs, 40_000)
        b = unimax_language_budgets(docs.repartition(13), 40_000)
        assert {tuple(r) for r in a.collect()} == {tuple(r) for r in b.collect()}


def test_temperature_mixture_flattens(spark, sf_dir):
    """Temperature shares sum to 1, and alpha=0.3 moves mass from the
    largest language to the smallest (the whole point of the method);
    alpha=1 recovers natural sampling."""
    from frappe_data_pipelines_spark.operators.selection import (
        temperature_mixture_weights,
    )
    from frappe_data_pipelines_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    rows = temperature_mixture_weights(docs, alpha=0.3).collect()
    assert abs(sum(r.share_temperature for r in rows) - 1.0) < 1e-4
    assert abs(sum(r.share_natural for r in rows) - 1.0) < 1e-4
    big = max(rows, key=lambda r: r.n_tokens)
    small = min(rows, key=lambda r: r.n_tokens)
    if big.n_tokens > small.n_tokens:
        assert big.boost < 1.0 < small.boost
    nat = temperature_mixture_weights(docs, alpha=1.0).collect()
    for r in nat:
        assert abs(r.share_temperature - r.share_natural) <= 2e-6
        assert abs(r.boost - 1.0) <= 2e-6


def test_soft_dedup_weights_orders_by_commonness(spark):
    """A doc made of corpus-wide boilerplate scores lower than a unique
    doc; a fully unique doc gets weight exactly 1 (ln df = ln 1 = 0)."""
    from frappe_data_pipelines_spark.operators.dedup import soft_dedup_weights

    boiler = "click here to subscribe to our newsletter today"
    rows = [(i, boiler) for i in range(10)]
    rows.append((100, "entirely unique prose about marmalade physics"))
    rows.append((101, boiler + " with a rare unique tail sentence attached"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    w = {r.doc_id: r for r in soft_dedup_weights(docs, n=3).collect()}
    assert w[100].weight == 1.0 and w[100].commonness == 0.0
    assert w[0].weight < w[101].weight < w[100].weight
