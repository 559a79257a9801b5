"""Parquet table sources.

The engine's persistent tables (SURVEY.md §1.1):
  * ``documents``  — source corpus (Drive File + extracted text stand-in)
  * ``embeddings`` — vector store stand-in (Qdrant points)
  * ``events``     — stream table
  * TPC-H-ish star (region nation customer supplier part orders lineitem)

All reads go through ``spark.read.parquet`` so Catalyst's vectorized parquet
reader, predicate pushdown and column pruning apply. Nothing here collects.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table. Filters applied by callers push down into this scan.

    ``events.ts`` has shipped under two physical types across testdata
    generations, both normalized here so every downstream operator sees one
    canonical ``timestamp`` (LTZ) column:

    * TIMESTAMP(NANOS) — with ``spark.sql.legacy.parquet.nanosAsLong`` it
      surfaces as a long we convert to a microsecond timestamp
      (floor-truncation — identical to how DuckDB coerces nanos to its
      micro-resolution TIMESTAMP, so oracle hashes agree).
    * ``timestamp[us]`` with no timezone — by default pyspark infers
      TIMESTAMP_NTZ, which rejects LTZ-only expressions (``unix_micros``,
      ``withWatermark``, cast-to-long). Disabling
      ``inferTimestampNTZ`` makes the scan produce LTZ directly, which
      keeps ts-range predicates pushed into the parquet scan (a
      ``withColumn`` cast would sit between scan and filter and forfeit
      row-group pruning — decisive on a 100 TB event table). The session
      timezone is pinned UTC (session.py), so the values are identical to
      the NTZ reading and DuckDB oracle hashes agree. A residual cast
      branch below covers frames resolved before the conf applied."""
    # runtime-settable session confs — the caller's session (e.g. the
    # driver's) may not have them. Set for EVERY load, not just events:
    # orders/lineitem also store tz-less timestamp[us], and a conf flipped
    # only on the events path would make their dtype depend on which table
    # loaded first in the session. Without nanosAsLong the scan rejects
    # TIMESTAMP(NANOS) testdata generations outright.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    for f in df.schema.fields:
        if f.name == "ts" and isinstance(f.dataType, T.LongType):
            # integer DIV: ns values exceed double's 2^53 mantissa, so `/`
            # followed by floor() would round — DIV stays exact in int64
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        elif f.name == "ts" and isinstance(f.dataType, T.TimestampNTZType):
            # session tz is pinned UTC, so this cast is value-identical; it
            # restores the LTZ type that event-time operators require
            df = df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    return df


def load_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLE_NAMES)}


def source_stat_key(sf_dir: str, *names: str) -> str:
    """Filesystem fingerprint of the named source tables — size, mtime,
    inode and ctime of each table's parquet file, or of every file under a
    directory table, joined. Folded into derived-index cache-dir keys
    (suffix/token/SQ8/KN) so a cache can never be served against CHANGED
    source data: if the file at ``sf_dir`` is replaced, the key — and
    therefore the /tmp directory the index lives in — changes, and the
    reader rebuilds (VERDICT r12 item 8: the content check must not cost
    a Spark job; a stat is free). The inode catches a file renamed over
    the source and the ctime a ``cp -p`` in place, both of which keep
    size and mtime. A missing file contributes a constant, so probing a
    not-yet-generated layout still yields a stable key."""

    parts = []
    for n in names:
        p = os.path.join(sf_dir, f"{n}.parquet")
        if os.path.isdir(p):
            files = sorted(
                os.path.join(root, fn) for root, _, fns in os.walk(p) for fn in fns
            )
            stamps = [f"{os.path.relpath(f, p)}@{_stamp(f)}" for f in files]
            parts.append(f"{n}=[{';'.join(stamps)}]")
            continue
        try:
            parts.append(f"{n}={_stamp(p)}")
        except OSError:
            parts.append(f"{n}=absent")
    return ",".join(parts)


def _stamp(path: str) -> str:
    st = os.stat(path)
    return f"{st.st_size}:{st.st_mtime_ns}:{st.st_ino}:{st.st_ctime_ns}"


def input_files_stat_key(df: DataFrame) -> str:
    """``source_stat_key`` for whatever files ``df`` scans
    (``df.inputFiles()``): each local file's stamp, so a file rewritten in
    place, renamed over, or copied over with ``shutil.copy2`` changes the
    key. A file the driver cannot stat (a remote URI, a vanished file)
    contributes its name alone; a DataFrame that scans no file gives ''."""
    from urllib.parse import unquote, urlparse

    parts = []
    for uri in sorted(df.inputFiles()):
        u = urlparse(uri)
        try:
            stamp = _stamp(unquote(u.path)) if u.scheme in ("", "file") else "remote"
        except OSError:
            stamp = "absent"
        parts.append(f"{uri}@{stamp}")
    return ";".join(parts)


def spread_scan(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Decouple CPU parallelism from input file layout for compute-heavy
    stages (token/shingle explosion, per-row kernels).

    A scan of one sub-``maxPartitionBytes`` parquet file plans as ONE
    partition, so everything up to the first shuffle — tokenize, n-gram
    explode, partial aggregation — runs on one core while the rest of the
    cluster idles. Round-robin repartition to the session's default
    parallelism when (and only when) the planned partition count is below
    it; the shuffle moves just the narrow pre-explosion rows.

    At 100 TB this is a no-op by construction: a real corpus scan already
    has thousands of ≥128 MB partitions (``getNumPartitions >= target``),
    so no shuffle is ever added where the data is large — the helper only
    fires where the input is small enough that shuffling it is trivially
    cheap."""
    target = min_parts or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def register_temp_views(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> None:
    """Expose the tables to ``spark.sql`` under their bare names."""
    for n in names or TABLE_NAMES:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)


def load_any(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: str | None = None,
    **options,
) -> DataFrame:
    """Format-generic source (A2's dispatch idea applied to table formats):
    parquet / csv / json / text / orc through one entry point. CSV and JSON
    REQUIRE an explicit schema at scale — schema inference is a full extra
    pass over the data, unacceptable at 100 TB (and non-deterministic under
    sampling), so passing ``schema=None`` for those formats raises."""
    fmt = fmt.lower()
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    elif fmt in ("csv", "json"):
        raise ValueError(f"{fmt} source requires an explicit schema (no inference at scale)")
    if fmt == "csv":
        options.setdefault("header", "true")
    return reader.format(fmt).options(**options).load(path)


def write_any(df: DataFrame, path: str, fmt: str = "parquet", mode: str = "overwrite", **options) -> None:
    """Format-generic sink twin of ``load_any``."""
    if fmt.lower() == "csv":
        options.setdefault("header", "true")
    df.write.format(fmt.lower()).options(**options).mode(mode).save(path)
