"""Data-layout optimization for scan pruning — the biggest single lever
at 100 TB (reference: its vector store compacts segments; a lakehouse
equivalent is Delta's OPTIMIZE ... ZORDER BY).

Parquet readers prune ROW GROUPS and FILES whose min/max footer stats
exclude the predicate. Pruning only bites when the writer clusters rows
so each file covers a narrow key range:

* ``write_range_clustered`` — range-repartition on the cluster keys then
  sort within partitions: each output file owns a contiguous key range,
  so an equality/range predicate touches ~1 file instead of all of them.
* ``zorder_key_expr`` — Morton (Z-order) interleaving of several keys'
  quantized ranks, as a pure Column expression: clustering by the Z key
  gives multi-dimensional pruning (both ``user_id = ?`` AND time-range
  predicates prune well from ONE layout).

The effect is measured by ``tools/layout_bench.py`` (files whose footer
range matches a point predicate, clustered vs unclustered) and asserted
structurally in tests via pyarrow footer inspection.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from frappe_data_pipelines_spark.operators import kernel

__all__ = ["write_range_clustered", "zorder_key_expr", "zorder_py"]


def zorder_key_expr(
    quantized: list[tuple[Column, float, float]], bits: int = 16
) -> Column:
    """Morton key of N columns: each column is quantized to ``bits``-bit
    rank inside its [lo, hi] range, then bits are interleaved. Pure
    integer Column arithmetic — whole-stage codegen, no UDF. N·bits must
    be ≤ 63 (the key is a BIGINT)."""
    n = len(quantized)
    if n * bits > 63:
        raise ValueError(f"{n} cols x {bits} bits exceeds a signed 64-bit key")
    maxq = (1 << bits) - 1
    qs = []
    for col, lo, hi in quantized:
        span = (hi - lo) or 1.0
        q = F.floor((col.cast("double") - F.lit(float(lo))) / F.lit(float(span)) * maxq)
        qs.append(F.least(F.lit(maxq), F.greatest(F.lit(0), q)).cast("long"))
    key = F.lit(0).cast("long")
    for b in range(bits):
        for j, q in enumerate(qs):
            bit = F.shiftright(q, b).bitwiseAND(F.lit(1))
            key = key.bitwiseOR(F.shiftleft(bit, b * n + j))
    return key


def zorder_py(values: list[int], bits: int = 16) -> int:
    """Pure-Python mirror of the interleave (tests pin the expression
    against this)."""
    key = 0
    n = len(values)
    for b in range(bits):
        for j, v in enumerate(values):
            key |= ((v >> b) & 1) << (b * n + j)
    return key


def write_range_clustered(
    df: DataFrame,
    path: str,
    cluster_cols: list[str],
    n_files: int,
    zorder: list[tuple[str, float, float]] | None = None,
) -> None:
    """Write ``df`` as parquet clustered for pruning: range-repartition on
    the cluster keys (or the Z-order key when ``zorder`` is given) and
    sort within each partition, so every output file covers a narrow,
    mostly-disjoint key range and its footer min/max actually prunes.

    At 100 TB this is the compaction job you run once per table, after
    which every selective read saves its cost many times over."""
    if zorder:
        key = zorder_key_expr([(F.col(c), lo, hi) for c, lo, hi in zorder])
        out = (
            df.withColumn("__zkey", key)
            .repartitionByRange(n_files, "__zkey")
            .sortWithinPartitions("__zkey")
            .drop("__zkey")
        )
    else:
        out = df.repartitionByRange(n_files, *cluster_cols).sortWithinPartitions(
            *cluster_cols
        )
    out.write.mode("overwrite").parquet(path)


# ---------------------------------------------------------------------------
# Per-file Bloom index: data skipping on NON-clustered columns
# ---------------------------------------------------------------------------

def _bloom_positions(value, m_bits: int, k_hashes: int) -> list[int]:
    """k deterministic bit positions for a value (md5 with salt counters —
    engine-portable, no RNG)."""
    import hashlib

    return [
        int(hashlib.md5(f"{i}:{value}".encode()).hexdigest()[:12], 16) % m_bits
        for i in range(k_hashes)
    ]


def build_bloom_index(
    spark,
    table_path: str,
    column: str,
    m_bits: int = 1 << 16,
    k_hashes: int = 5,
) -> dict[str, bytes]:
    """Per-FILE Bloom filters over ``column`` (the Delta bloom-index move):
    clustering prunes the sort key, blooms prune point lookups on every
    OTHER column. Build is one distributed pass — each file's distinct
    values hash into a bitmap inside ``applyInPandas`` on the file group,
    and only (file, m/8-byte bitmap) rows come back; lookup is driver-side
    bit tests, touching no data.

    Returns {file_path: bloom_bytes}. Never false-negative by
    construction; false-positive rate set by m_bits/k_hashes vs per-file
    cardinality."""
    import pandas as pd
    from pyspark.sql import functions as F

    df = spark.read.parquet(table_path).select(
        F.col(column).alias("v"), F.input_file_name().alias("f")
    )

    def per_file(_key, pdf: pd.DataFrame) -> pd.DataFrame:
        bits = bytearray(m_bits // 8)
        for v in pdf["v"].unique():
            for p in _bloom_positions(v, m_bits, k_hashes):
                bits[p >> 3] |= 1 << (p & 7)
        return pd.DataFrame({"f": [pdf["f"].iloc[0]], "bloom": [bytes(bits)]})

    rows = kernel.apply_groups(df.groupBy("f"), per_file, "f string, bloom binary").collect()
    return {r["f"]: bytes(r["bloom"]) for r in rows}


def bloom_candidate_files(
    index: dict[str, bytes], value, m_bits: int = 1 << 16, k_hashes: int = 5
) -> list[str]:
    """Files that MAY contain ``value`` (bit-test only — no data read)."""
    pos = _bloom_positions(value, m_bits, k_hashes)
    return sorted(
        f
        for f, bits in index.items()
        if all(bits[p >> 3] & (1 << (p & 7)) for p in pos)
    )
