"""Physical-plan regression tests (SURVEY §4): the scale properties the
engine relies on — pushdown into the parquet scan, broadcast for small
dimensions, TakeOrderedAndProject for top-k, shuffle-free chunking — are
asserted on the *executed* plan so a refactor can't silently trade them away.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from frappe_data_pipelines_spark.plans.catalog import queries
from frappe_data_pipelines_spark.sources.tables import load_table


def _executed_plan(df) -> str:
    df.collect()  # let AQE finalize
    return df._jdf.queryExecution().executedPlan().toString()


def test_filtered_knn_pushdown_and_topk(spark, sf_dir):
    plan = _executed_plan(queries()["b6_filtered_knn"](spark, sf_dir))
    assert "PushedFilters: [IsNotNull(label), EqualTo(label," in plan
    assert "TakeOrderedAndProject" in plan  # top-k never global-sorts


def test_permission_semi_join_broadcasts(spark, sf_dir):
    plan = _executed_plan(queries()["c1_permission_semi_join"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "SortMergeJoin" not in plan  # grant set is small → must broadcast


def test_tpch_q3_broadcast_and_pushdown(spark, sf_dir):
    plan = _executed_plan(queries()["tpch_q3_shipping_priority"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "EqualTo(c_mktsegment,BUILDING)" in plan  # filter reached the scan
    assert "TakeOrderedAndProject" in plan


def test_topk_is_take_ordered(spark, sf_dir):
    plan = _executed_plan(queries()["e2_topk_by_score"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_chunker_is_shuffle_free(spark, sf_dir):
    from frappe_data_pipelines_spark.operators.chunker import chunk_documents

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    plan = _executed_plan(
        chunk_documents(docs, strategy="recursive", chunk_size=200, chunk_overlap=40)
    )
    assert "Exchange" not in plan  # chunk+enumerate happens per input split


def test_scan_prunes_columns(spark, sf_dir):
    df = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    plan = _executed_plan(df.limit(1))
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity" in plan
    assert "l_comment" not in plan  # untouched columns never leave parquet


def test_bucketed_join_is_shuffle_free(spark, sf_dir, tmp_path):
    """Bucketing both join sides on the key gives a co-located join: the
    executed plan has no Exchange on either side — at 100 TB this is the
    difference between a terabyte-scale shuffle per join and none."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    for df, name in ((o, "orders_bkt"), (li, "lineitem_bkt")):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            df.write.bucketBy(8, df.columns[0])
            .sortBy(df.columns[0])
            .mode("overwrite")
            .saveAsTable(name)
        )
    joined = (
        spark.table("lineitem_bkt")
        # hint forces SMJ (tiny test tables would otherwise broadcast) so the
        # bucket-layout property is what the assertion exercises
        .join(spark.table("orders_bkt").hint("merge"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"))
    )
    plan = _executed_plan(joined)
    assert "SortMergeJoin" in plan
    # neither join input reads from an Exchange: bucket layout co-locates keys
    assert "Exchange hashpartitioning(l_orderkey" not in plan
    assert "Exchange hashpartitioning(o_orderkey" not in plan
    for name in ("orders_bkt", "lineitem_bkt"):
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_cache_dirs_keyed_on_source_fingerprint(tmp_path):
    """VERDICT r12 item 8: the persisted-index cache dirs must change when
    the source data changes — a moved/replaced testdata file must never be
    served a stale index. The key rides a filesystem stat (size+mtime), so
    the check costs no Spark job."""
    import os
    import time

    from frappe_data_pipelines_spark.plans.qualityqueries import (
        _suffix_index_cache_dir,
        _token_suffix_index_cache_dir,
    )
    from frappe_data_pipelines_spark.plans.textqueries import _kn_cache_dir
    from frappe_data_pipelines_spark.plans.vectorqueries import (
        _sq_index_cache_dir,
    )
    from frappe_data_pipelines_spark.sources.tables import source_stat_key

    sf = str(tmp_path)
    (tmp_path / "documents.parquet").write_bytes(b"v1-bytes")
    (tmp_path / "embeddings.parquet").write_bytes(b"e1")
    before = {
        "suffix": _suffix_index_cache_dir(sf),
        "token": _token_suffix_index_cache_dir(sf),
        "kn": _kn_cache_dir(sf),
        "sq": _sq_index_cache_dir(sf),
    }
    # same content, same stats -> stable keys (a second call must reuse)
    assert before == {
        "suffix": _suffix_index_cache_dir(sf),
        "token": _token_suffix_index_cache_dir(sf),
        "kn": _kn_cache_dir(sf),
        "sq": _sq_index_cache_dir(sf),
    }
    # replaced source -> every consumer of that table gets a NEW dir
    time.sleep(0.01)  # ensure mtime_ns moves even on coarse filesystems
    (tmp_path / "documents.parquet").write_bytes(b"v2-bytes-longer")
    (tmp_path / "embeddings.parquet").write_bytes(b"e2x")
    after = {
        "suffix": _suffix_index_cache_dir(sf),
        "token": _token_suffix_index_cache_dir(sf),
        "kn": _kn_cache_dir(sf),
        "sq": _sq_index_cache_dir(sf),
    }
    for k in before:
        assert before[k] != after[k], f"{k} cache dir ignored a source change"
    # the raw fingerprint distinguishes absent from present
    assert "absent" in source_stat_key(sf, "nonexistent_table")
    assert "documents=" in source_stat_key(sf, "documents")
    assert os.path.basename(before["kn"]).startswith("fdp_kn_lm_")


def test_source_stat_key_sees_same_size_same_mtime_replacements(tmp_path):
    """``cp -p`` (``shutil.copy2``) of other bytes over the source keeps its
    size and mtime; a rename over it keeps both too. Each still changes the
    key, and so does rewriting one part file of a directory table."""
    import os
    import shutil
    import time

    from frappe_data_pipelines_spark.sources.tables import source_stat_key

    sf = str(tmp_path)
    src = tmp_path / "documents.parquet"
    src.write_bytes(b"AAAA")
    other = tmp_path / "other.bin"
    other.write_bytes(b"BBBB")
    st = src.stat()
    os.utime(other, ns=(st.st_atime_ns, st.st_mtime_ns))
    before = source_stat_key(sf, "documents")
    time.sleep(0.05)  # the kernel stamps ctime at tick granularity
    shutil.copy2(other, src)
    assert (src.stat().st_size, src.stat().st_mtime_ns) == (st.st_size, st.st_mtime_ns)
    copied = source_stat_key(sf, "documents")
    assert copied != before
    shutil.copy2(src, other)  # same bytes, size and mtime, another inode
    os.replace(other, src)
    assert source_stat_key(sf, "documents") != copied

    table = tmp_path / "events.parquet" / "day=1"
    table.mkdir(parents=True)
    part = table / "part-0.parquet"
    part.write_bytes(b"CCCC")
    spare = tmp_path / "spare.bin"
    spare.write_bytes(b"DDDD")
    pst = part.stat()
    os.utime(spare, ns=(pst.st_atime_ns, pst.st_mtime_ns))
    before = source_stat_key(sf, "events")
    assert "day=1/part-0.parquet@" in before
    time.sleep(0.05)
    shutil.copy2(spare, part)
    assert source_stat_key(sf, "events") != before
