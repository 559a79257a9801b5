"""Sequence packing: fill fixed-token-budget training sequences from
variable-length documents — the last mile of a pre-training data pipeline
(padding waste directly costs training FLOPs).

Greedy first-fit-decreasing within each partition: packing is a bin-packing
problem with no exact distributed solution, and the industry-standard
approximation is to pack locally per shard — each partition's packs are
independent, so the operator scales linearly and produces deterministic
output (documents are hash-partitioned and sorted by id before packing; no
rand(), SURVEY hard spot (c)).

Token counts use the engine's whitespace+punctuation estimator
(functions/text.py:token_count_expr) — swap in a real BPE count by passing
``token_count_col`` computed upstream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from frappe_data_pipelines_spark.functions.text import token_count_expr
from frappe_data_pipelines_spark.operators import kernel


def pack_sequences(
    docs: DataFrame,
    budget_tokens: int = 2048,
    n_shards: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
    token_count_col: str | None = None,
) -> DataFrame:
    """Pack documents into sequences of at most ``budget_tokens`` tokens.

    Returns (pack_id STRING, doc_ids ARRAY<BIGINT>, total_tokens BIGINT,
    n_docs INT). Documents longer than the budget get a singleton pack
    (they would be split by the chunker upstream in a real pipeline).

    pack_id is deterministic: ``{shard}-{seq}`` where shard is the hash
    shard and seq the pack's index within it.
    """
    import pandas as pd

    tok = (
        F.col(token_count_col)
        if token_count_col
        else token_count_expr(F.col(text_col))
    )
    base = docs.select(
        F.col(id_col).cast("bigint").alias("doc_id"),
        tok.cast("bigint").alias("n_tokens"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_shards)).cast("int").alias("shard"),
    )

    def pack_shard(_key, pdf: pd.DataFrame) -> pd.DataFrame:
        # first-fit-decreasing: big docs first, each into the first open
        # pack with room; deterministic tie-break by doc_id
        pdf = pdf.sort_values(["n_tokens", "doc_id"], ascending=[False, True])
        shard = int(pdf["shard"].iloc[0]) if len(pdf) else 0
        packs: list[dict] = []  # {ids, total}
        for doc_id, n_tokens in zip(pdf["doc_id"], pdf["n_tokens"]):
            placed = False
            for p in packs:
                if p["total"] + n_tokens <= budget_tokens:
                    p["ids"].append(int(doc_id))
                    p["total"] += int(n_tokens)
                    placed = True
                    break
            if not placed:
                packs.append({"ids": [int(doc_id)], "total": int(n_tokens)})
        return pd.DataFrame(
            {
                "pack_id": [f"{shard}-{i}" for i in range(len(packs))],
                "doc_ids": [sorted(p["ids"]) for p in packs],
                "total_tokens": [p["total"] for p in packs],
                "n_docs": [len(p["ids"]) for p in packs],
            }
        )

    return kernel.apply_groups(
        base.groupBy("shard"),
        pack_shard,
        "pack_id string, doc_ids array<bigint>, total_tokens bigint, n_docs int",
    )


def rebalance_tail_packs(
    packs: DataFrame,
    budget_tokens: int = 2048,
    fill_threshold: float = 0.85,
) -> DataFrame:
    """Cross-shard rebalancing pass for the tail packs.

    Per-shard FFD leaves roughly one underfilled pack per shard (the last
    one opened). Those tails are merged ACROSS shards: packs below
    ``fill_threshold × budget`` are re-packed first-fit-decreasing treating
    each tail pack as an atom (doc membership never splits, so the budget
    bound and doc conservation both survive by construction).

    Scale shape: the tail set is O(n_shards) rows regardless of corpus size
    — at 100 TB with 10⁵ shards it is 10⁵ tiny rows, so the single-partition
    repack is deliberate, not a bottleneck; full packs never move (they are
    filtered, not shuffled). Merged packs get ids ``r-{seq}``.
    """
    import pandas as pd

    floor = int(budget_tokens * fill_threshold)
    full = packs.filter(F.col("total_tokens") >= floor)
    tail = packs.filter(F.col("total_tokens") < floor)

    def merge(_key, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["total_tokens", "pack_id"], ascending=[False, True])
        merged: list[dict] = []
        for _, row in pdf.iterrows():
            placed = False
            for p in merged:
                if p["total"] + row["total_tokens"] <= budget_tokens:
                    p["ids"].extend(int(d) for d in row["doc_ids"])
                    p["total"] += int(row["total_tokens"])
                    placed = True
                    break
            if not placed:
                merged.append(
                    {"ids": [int(d) for d in row["doc_ids"]], "total": int(row["total_tokens"])}
                )
        return pd.DataFrame(
            {
                "pack_id": [f"r-{i}" for i in range(len(merged))],
                "doc_ids": [sorted(p["ids"]) for p in merged],
                "total_tokens": [p["total"] for p in merged],
                "n_docs": [len(p["ids"]) for p in merged],
            }
        )

    rebalanced = kernel.apply_groups(
        tail.withColumn("g", F.lit(0)).groupBy("g"),
        merge,
        "pack_id string, doc_ids array<bigint>, total_tokens bigint, n_docs int",
    )
    return full.unionByName(rebalanced)
