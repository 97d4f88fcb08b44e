"""Table catalog: typed loaders for the benchmark parquet tables.

The driver materializes a deterministic TPC-H-ish star schema plus
``events`` / ``documents`` / ``embeddings`` at ``/root/testdata/sf*/``
(see TESTDATA.md). All loads are plain ``spark.read.parquet`` so Catalyst
gets full pushdown/pruning; nothing is collected or cached here.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
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
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one benchmark table.

    SIDE EFFECT: pins two session confs on the CALLER's SparkSession —
    ``spark.sql.legacy.parquet.nanosAsLong=true`` (events.parquet carries
    TIMESTAMP(NANOS); without it the scan fails with PARQUET_TYPE_ILLEGAL)
    and ``spark.sql.session.timeZone=UTC`` (timestamp parse/format is
    session-tz-dependent; the oracle compares naive timestamps). Both are
    lazily evaluated confs, so they affect the session's SUBSEQUENT
    timestamp reads too, not just this table — callers interleaving their
    own non-UTC timestamp work should save/restore
    ``spark.conf.get("spark.sql.session.timeZone")`` around engine calls.
    Set-only-when-different keeps the common path mutation-free.
    """
    for key, want in (
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.session.timeZone", "UTC"),
    ):
        if spark.conf.get(key, None) != want:
            spark.conf.set(key, want)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    return normalize_ntz(_fix_events_ts(df, name))


def _fix_events_ts(df: DataFrame, name: str) -> DataFrame:
    """events.ts is parquet TIMESTAMP(NANOS); with
    spark.sql.legacy.parquet.nanosAsLong it arrives as long nanos.
    Integer-div to micros (floor, matching DuckDB's ns→us read)."""
    if name == "events":
        for f in df.schema.fields:
            if f.name == "ts" and f.dataType.simpleString() == "bigint":
                df = df.withColumn(
                    "ts", F.timestamp_micros(F.expr("ts div 1000"))
                )
    return df


def spread_scan(df: DataFrame) -> DataFrame:
    """Round-robin repartition UP to the cluster's core count when the
    upstream scan yields fewer splits (optimization guide §2.5, "input
    skew: one huge unsplittable file"). Every local test table is a
    single-row-group parquet file — one non-empty scan split — so any
    heavy map-side stage (tokenize/regex/explode/Arrow decode) before
    the first exchange otherwise runs on ONE core of N. A no-op (no
    exchange node at all) when the reader already provides >= cores
    splits, so at production scale this never moves a byte; locally it
    trades one small exchange for N-way parallelism on the expensive
    narrow stage. Apply ONLY in front of heavy per-row work — for cheap
    scan+agg shapes the exchange costs more than it buys."""
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() >= sc.defaultParallelism:
        return df
    return df.repartition(sc.defaultParallelism)


def load_table_stream(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Streaming twin of ``load_table``: the same parquet table as a
    file-stream source with identical timestamp normalization.

    File streams require an explicit schema, so the physical schema is
    discovered with a zero-row batch read first (driver-side metadata
    only), then the same nanos→micros / NTZ→LTZ fix-ups are applied so
    batch and stream plans see byte-identical columns — the property the
    batch/stream twin tests rely on.
    """
    load_table(spark, sf_dir, name)  # pins the nanos/UTC confs
    path = os.path.join(sf_dir, f"{name}.parquet")
    raw_schema = spark.read.parquet(path).schema
    if os.path.isfile(path):
        # testdata tables are single FILES; the file-stream source only
        # accepts a directory or a glob (its basePath inference needs a
        # parent dir), so wrap the filename in a one-member glob.
        path = os.path.join(sf_dir, "{" + f"{name}.parquet" + "}")
    stream = spark.readStream.schema(raw_schema).parquet(path)
    return normalize_ntz(_fix_events_ts(stream, name))


def normalize_ntz(df: DataFrame) -> DataFrame:
    """Cast any TIMESTAMP_NTZ column to session-tz TIMESTAMP (LTZ).

    Newer testdata writes ``events.ts`` as parquet ``timestamp[us]`` without
    isAdjustedToUTC, which Spark 4 reads as TIMESTAMP_NTZ. NTZ forbids
    ``CAST(... AS BIGINT/DOUBLE)`` and ``withWatermark``, so every epoch
    arithmetic and streaming window downstream would throw. NTZ→LTZ is a
    legal cast and, with the session timezone pinned to UTC (done above),
    is value-identity: ``cast(ts as long)`` afterwards equals DuckDB's
    ``floor(epoch(ts))`` on the same file. Columnar cast, fuses into the
    scan — no extra stage.
    """
    ntz_cols = [
        f.name for f in df.schema.fields
        if f.dataType.simpleString() == "timestamp_ntz"
    ]
    for c in ntz_cols:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}
