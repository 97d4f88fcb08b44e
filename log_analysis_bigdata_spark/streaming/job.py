"""The speed-layer streaming job, Spark-first.

Reference pipeline (per message, kafka_consumer.py:27-40):
  transform.py:8-97   JSON decode → split lines → regex fields → template
                      match → group → E1..E29 counts
  ML_predict.py:78-115  per-line template count → float32 row → LightGBM
                      predict_proba ≥ 0.83
  insert_data_to_HBase.py:6-46  stringify + put (last-write-wins upsert)

Engine rendering: one Structured Streaming query. The parse/template/
feature transform is the SAME batch code applied to the split
``log_full`` lines: functions.logparse's message regex,
functions.templates' EventId tagger and operators.features'
``feature_counts_hof`` counter — this kills Skew-1..4 by construction.
The per-line EventId array is projected as its own column before the
counter reads it: a Column reused inside many HOFs in one ``select`` is
evaluated once per use (HOF bodies get no CSE), so inlining it would run
the template ``rlike`` chain once per event id. Scoring is a column
expression (or the ml.inference pandas-UDF for a real model) with
ml.inference's 0.83 threshold; the sink is a keyed last-write-wins
parquet upsert via foreachBatch (locally; Delta MERGE on a real
deployment).
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.logparse import RE_MESSAGE
from ..functions.templates import event_id_expr
from ..ml.inference import threshold_prediction
from ..operators.features import feature_counts_hof
from ..schemas import SESSION_MESSAGE


def decode_messages(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """Kafka/file JSON payload → typed columns (from_json with the
    declared schema — the engine fix for the reference's duck-typed
    consumer, SURVEY §1.3)."""
    return raw.select(
        F.from_json(F.col(value_col).cast("string"), SESSION_MESSAGE).alias("m")
    ).select("m.*")


def dedup_messages(
    msgs: DataFrame,
    key_col: str = "block_id",
    ts_col: str = "start_ts",
    horizon: str = "10 minutes",
    content_cols: Sequence[str] = (),
) -> DataFrame:
    """At-least-once delivery → in-stream dedup (T3's stream-side half).

    The upsert sink is already idempotent per key (last-write-wins), but
    a replayed message still re-runs the whole parse/feature/score plan
    before being squashed at the sink. ``dropDuplicatesWithinWatermark``
    drops the replay at the SOURCE instead, including when the duplicate
    arrives in a LATER micro-batch (tested), while keeping dedup state
    bounded: keys expire once the watermark passes ``horizon``, so state
    is O(keys-per-horizon), not O(all keys ever) — the difference between
    this and unbounded ``dropDuplicates`` at 100 TB/day is the difference
    between a working job and an OOM.

    The dedup key is MESSAGE identity, not key identity: ``key_col`` plus
    ``content_cols`` (a payload hash/discriminator). Dropping on
    ``key_col`` alone would conflate a replay of the same message (drop)
    with an UPDATE to the same key (must flow through and replace — the
    reference's HBase-put last-write-wins, insert_data_to_HBase.py:43).
    Callers with an opaque payload should pass a content hash, e.g.
    ``md5(log_full)`` as ``run_file_stream`` does.

    Batch twin: first-wins per key (queries/streamq.py:stream_dedup_blocks
    renders it deterministically with row_number).
    """
    keys = [key_col, *content_cols]
    if msgs.isStreaming:
        return msgs.withWatermark(ts_col, horizon).dropDuplicatesWithinWatermark(
            keys
        )
    return msgs.dropDuplicates(keys)


def message_features(
    messages: DataFrame,
    templates: Sequence[tuple[str, str]],
    event_ids: Sequence[str],
) -> DataFrame:
    """Per-message E-counts (A10/A11 stream semantics).

    Each message is a self-contained session snapshot (transform.py:75-86
    keys the feature row by the *message's* BlockId), so counts are
    computed per row: split → per-line template tag → the batch layer's
    ``feature_counts_hof``. The EventId array is projected once as
    ``event_seq`` first: the counter reads it inside one HOF per event
    id, and an inlined array would re-run the template ``rlike`` chain
    in each of them. Completely stateless: no shuffle, no streaming
    aggregation state, so redelivery of a key REPLACES instead of
    accumulating (the reference's HBase-put semantics), and the stream
    stage stays a narrow map at any scale.
    """
    eids = F.transform(
        F.split("log_full", "\n"),
        lambda v: event_id_expr(
            templates, F.regexp_extract(v, RE_MESSAGE, 1)
        ),
    )
    seqs = messages.select("block_id", eids.alias("event_seq"))
    return feature_counts_hof(seqs, "block_id", "event_seq", event_ids)


def score_expr(event_ids: Sequence[str], weights: dict[str, float], bias: float):
    """Linear + sigmoid scoring as a pure column expression — the
    cheapest correct rendering of M9 when the model is linear; for
    tree models use ml.inference.pandas_udf_scorer."""
    z = F.lit(bias)
    for e in event_ids:
        w = weights.get(e, 0.0)
        if w:
            z = z + F.col(e) * F.lit(w)
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))


UPSERT_N_BUCKETS = 16


def upsert_sink(target_dir: str, key_col: str, order_col: str):
    """foreachBatch last-write-wins upsert into a parquet table
    partitioned by a stable hash bucket of the key.

    Semantics = the reference's HBase put keyed by BlockId
    (insert_data_to_HBase.py:43): newest ``order_col`` wins per key.
    The logical plan (union old+new → row_number desc → keep 1 per key)
    is exactly what a Delta/Iceberg MERGE compiles to.

    Scale shape: the serving table lives partitioned by
    ``_bucket = pmod(hash(key), UPSERT_N_BUCKETS)``. Each micro-batch
    touches ONLY the buckets its keys hash into — the read is
    partition-pruned to the touched buckets that already exist and the
    write uses dynamic partition overwrite, so untouched buckets' files
    are never read or rewritten. Cost per batch is O(batch ∪ touched
    buckets), not O(whole table): the table can grow without each epoch
    slowing down, which a full-table rewrite cannot do. On a real
    deployment the same plan is one ``MERGE INTO`` on a Delta table
    partitioned the same way.
    """

    def bucket_of(col):
        return F.pmod(F.xxhash64(col), F.lit(UPSERT_N_BUCKETS)).cast("int")

    def do_upsert(batch_df: DataFrame, epoch_id: int) -> None:
        from pyspark.sql.window import Window as W

        spark = batch_df.sparkSession
        # Two actions read the batch (the touched buckets, then the
        # write); persisted, the source read, the stateful dedup and the
        # template tag run once per micro-batch instead of once each.
        batch = batch_df.withColumn("_bucket", bucket_of(F.col(key_col))).persist()
        try:
            # Tiny driver-side list (≤ UPSERT_N_BUCKETS ints) — partition
            # pruning, not data collection.
            touched = sorted(
                r["_bucket"] for r in batch.select("_bucket").distinct().collect()
            )
            old_dirs = [
                d for d in (f"{target_dir}/_bucket={b}" for b in touched)
                if os.path.isdir(d)
            ]
            merged = batch
            if old_dirs:
                merged = (
                    spark.read.option("basePath", target_dir)
                    .parquet(*old_dirs)
                    .unionByName(batch)
                )
            w = W.partitionBy(key_col).orderBy(F.desc(order_col))
            deduped = (
                merged.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
            )
            (
                deduped.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("_bucket")
                .parquet(target_dir)
            )
        finally:
            batch.unpersist()

    return do_upsert


def run_file_stream(
    spark: SparkSession,
    source_dir: str,
    target_dir: str,
    checkpoint_dir: str,
    templates: Sequence[tuple[str, str]],
    event_ids: Sequence[str],
    weights: dict[str, float] | None = None,
    bias: float = -2.0,
    watermark: str = "5 minutes",
    source_options: dict[str, str] | None = None,
    trigger: dict | None = None,
):
    """Dev harness: JSON-file source standing in for Kafka (identical
    downstream plan; swap ``readStream.format('kafka')`` in prod).

    Applies the T4 watermark for real and runs one availableNow pass.
    Returns the StreamingQuery (caller awaits termination).

    ``source_options`` passes reader options through (e.g.
    ``{"maxFilesPerTrigger": "1"}`` to make each replay file its own
    micro-batch — how the volume-replay test drives watermark
    advancement and state expiry across many triggers).
    """
    reader = spark.readStream.schema(SESSION_MESSAGE)
    for k, v in (source_options or {}).items():
        reader = reader.option(k, v)
    raw = reader.json(source_dir)
    # Watermarked source-side dedup keyed on MESSAGE identity
    # (block_id + payload md5): byte-identical replays within the horizon
    # are dropped before the parse/feature plan runs at all, while an
    # updated payload for the same key flows through to the last-write-
    # wins sink (the reference's HBase-put replace semantics). The
    # idempotent upsert sink remains the backstop for replays that
    # arrive after the horizon.
    msgs = dedup_messages(
        raw.withColumn("_payload_md5", F.md5(F.coalesce("log_full", F.lit("")))),
        "block_id",
        "start_ts",
        watermark,
        content_cols=["_payload_md5"],
    ).drop("_payload_md5")
    feats = message_features(msgs, templates, event_ids)
    scored = feats.withColumn(
        "score", score_expr(event_ids, weights or {}, bias)
    ).withColumn("prediction", threshold_prediction(F.col("score"))).withColumn(
        "ts_ms", F.unix_millis(F.current_timestamp())
    )
    # availableNow (default) = the batch-replay harness; pass
    # {"processingTime": "1 second"} for the reference demo's
    # continuously-fresh serving loop (app.py:55-81 polls HBase every
    # REALTIME_POLL_INTERVAL — here the stream keeps the serving table
    # fresh on the same cadence and readers just re-scan it)
    return (
        scored.writeStream.outputMode("append")
        .foreachBatch(upsert_sink(target_dir, "block_id", "ts_ms"))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )
