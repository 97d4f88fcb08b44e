"""End-to-end Structured Streaming tests: file-source stand-in for
Kafka → shared batch transform → score → foreachBatch keyed upsert.
Covers T1 (pipeline), T3 (idempotent last-write-wins), T4 (watermark
applied), plus incremental window state via availableNow replays.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from log_analysis_bigdata_spark.streaming.job import (
    decode_messages,
    message_features,
    run_file_stream,
    upsert_sink,
)
from log_analysis_bigdata_spark.streaming.windows import tumbling_counts

TEMPLATES = [
    ("E1", "Receiving block[*]src:[*]"),
    ("E2", "PacketResponder[*]terminating"),
    ("E3", "Verification succeeded for[*]"),
]
EVENT_IDS = ["E1", "E2", "E3"]


def _write_messages(path: str, msgs: list[dict]) -> None:
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "batch0.json"), "w") as f:
        for m in msgs:
            f.write(json.dumps(m) + "\n")


def _msg(block_id: str, n1: int, n2: int, ts: str = "2008-11-09 20:35:18") -> dict:
    lines = []
    for i in range(n1):
        lines.append(
            f"{ts} 143 INFO dfs.DataNode$DataXceiver: Receiving block {block_id} "
            f"src: /10.0.0.{i} dest: /10.0.0.9"
        )
    for i in range(n2):
        lines.append(
            f"081109 203519 145 INFO dfs.DataNode$PacketResponder: "
            f"PacketResponder {i} for block {block_id} terminating"
        )
    return {
        "block_id": block_id,
        "start_ts": ts,
        "end_ts": ts,
        "duration_sec": 0,
        "log_full": "\n".join(lines),
        "num_lines": len(lines),
    }


def test_stream_pipeline_end_to_end(spark, tmp_path):
    src = str(tmp_path / "src")
    tgt = str(tmp_path / "detections")
    ckpt = str(tmp_path / "ckpt")
    _write_messages(src, [_msg("blk_-1", 3, 2), _msg("blk_-2", 1, 0)])

    q = run_file_stream(
        spark, src, tgt, ckpt, TEMPLATES, EVENT_IDS,
        weights={"E1": 0.9, "E2": 0.5}, bias=-1.0,
    )
    q.awaitTermination(120)

    out = {r["block_id"]: r.asDict() for r in spark.read.parquet(tgt).collect()}
    assert set(out) == {"blk_-1", "blk_-2"}
    # mixed raw/ISO timestamp lines both parse; counts reflect templates
    assert out["blk_-1"]["E1"] == 3 and out["blk_-1"]["E2"] == 2
    assert out["blk_-2"]["E1"] == 1 and out["blk_-2"]["E2"] == 0
    # sigmoid(-1 + 3*0.9 + 2*0.5) ≈ 0.937 ≥ 0.83 → anomaly
    assert out["blk_-1"]["prediction"] == 1
    assert out["blk_-2"]["prediction"] == 0  # sigmoid(-0.1) ≈ 0.475


def test_stream_upsert_last_write_wins(spark, tmp_path):
    """T3: re-delivery of a key keeps the newest record (idempotent
    upsert, the reference's HBase-put semantics)."""
    src = str(tmp_path / "src")
    tgt = str(tmp_path / "detections")
    ckpt = str(tmp_path / "ckpt")
    _write_messages(src, [_msg("blk_-7", 2, 0)])
    q = run_file_stream(spark, src, tgt, ckpt, TEMPLATES, EVENT_IDS)
    q.awaitTermination(120)
    first = spark.read.parquet(tgt).collect()
    assert len(first) == 1 and first[0]["E1"] == 2

    # second delivery for the same key, different payload
    with open(os.path.join(src, "batch1.json"), "w") as f:
        f.write(json.dumps(_msg("blk_-7", 5, 1)) + "\n")
    q = run_file_stream(spark, src, tgt, ckpt, TEMPLATES, EVENT_IDS)
    q.awaitTermination(120)
    rows = spark.read.parquet(tgt).collect()
    assert len(rows) == 1
    assert rows[0]["E1"] == 5 and rows[0]["E2"] == 1


def test_upsert_runs_each_micro_batch_plan_once(spark, tmp_path):
    """The sink reads the micro-batch twice (touched buckets, then the
    write) but its plan runs once: the dedup operator's metrics add up
    over every execution, so (dropped + updated + late) / input rows is
    the number of executions (perfbench's ``plan_executions``)."""
    src = str(tmp_path / "src")
    m = _msg("blk_-8", 2, 1)
    _write_messages(src, [m, _msg("blk_-9", 1, 0), m])  # one byte-identical replay
    q = run_file_stream(
        spark, src, str(tmp_path / "tgt"), str(tmp_path / "ckpt"), TEMPLATES, EVENT_IDS
    )
    q.awaitTermination(120)
    data = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(data) == 1 and data[0]["numInputRows"] == 3
    (op,) = data[0]["stateOperators"]
    seen = (
        int(op["customMetrics"]["numDroppedDuplicateRows"])
        + op["numRowsUpdated"]
        + op["numRowsDroppedByWatermark"]
    )
    assert seen / data[0]["numInputRows"] == 1, op


def test_upsert_partition_scoped(spark, tmp_path):
    """The serving table is hash-bucket partitioned and each upsert
    rewrites ONLY the buckets its batch keys hash into — untouched
    buckets' files survive byte-identical (names + mtimes). This is the
    property that keeps per-epoch cost O(batch), not O(table)."""
    import glob

    from log_analysis_bigdata_spark.streaming.job import UPSERT_N_BUCKETS

    def bucket(k: str) -> int:
        return (
            spark.range(1)
            .select(
                F.pmod(F.xxhash64(F.lit(k)), F.lit(UPSERT_N_BUCKETS))
                .cast("int")
                .alias("b")
            )
            .collect()[0]["b"]
        )

    ka = "blk_a"
    kb = next(f"blk_{i}" for i in range(100) if bucket(f"blk_{i}") != bucket(ka))

    tgt = str(tmp_path / "serving")
    sink = upsert_sink(tgt, "block_id", "ts_ms")
    schema = "block_id string, v int, ts_ms long"
    sink(spark.createDataFrame([(ka, 1, 10)], schema), 0)

    a_dir = f"{tgt}/_bucket={bucket(ka)}"
    before = {p: os.path.getmtime(p) for p in glob.glob(a_dir + "/*.parquet")}
    assert before, "first upsert must create the key's bucket partition"

    sink(spark.createDataFrame([(kb, 2, 20)], schema), 1)
    after = {p: os.path.getmtime(p) for p in glob.glob(a_dir + "/*.parquet")}
    assert after == before, "upsert of another bucket rewrote untouched files"

    rows = {r["block_id"]: r["v"] for r in spark.read.parquet(tgt).collect()}
    assert rows == {ka: 1, kb: 2}

    # last-write-wins still holds within a bucket
    sink(spark.createDataFrame([(ka, 3, 30)], schema), 2)
    rows = {r["block_id"]: r["v"] for r in spark.read.parquet(tgt).collect()}
    assert rows == {ka: 3, kb: 2}


def test_decode_messages_declared_schema(spark):
    raw = spark.createDataFrame(
        [(json.dumps(_msg("blk_-3", 1, 1)),)], ["value"]
    )
    m = decode_messages(raw).collect()[0]
    assert m["block_id"] == "blk_-3" and m["num_lines"] == 2
    assert str(m["start_ts"]) == "2008-11-09 20:35:18"


def test_message_features_batch_stream_shared(spark):
    msgs = spark.createDataFrame(
        [_msg("blk_-4", 2, 3)],
        "block_id string, start_ts string, end_ts string, duration_sec long,"
        " log_full string, num_lines int",
    )
    row = message_features(msgs, TEMPLATES, EVENT_IDS).collect()[0]
    assert (row["E1"], row["E2"], row["E3"]) == (2, 3, 0)


def test_message_features_tags_each_line_once(spark):
    """The per-line template chain runs once per line, not once per
    event id: each template's regex appears exactly once in the
    executed plan (a Column reused inside several HOFs of one select is
    evaluated once per use, so the EventId array must be projected
    before the counter reads it)."""
    from log_analysis_bigdata_spark.functions.templates import (
        compile_template_regex,
    )

    m = _msg("blk_-5", 1, 1)
    msgs = spark.createDataFrame(
        [(m["block_id"], m["log_full"])], "block_id string, log_full string"
    )
    plan = (
        message_features(msgs, TEMPLATES, EVENT_IDS)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    counts = {
        eid: plan.count(compile_template_regex(tmpl)) for eid, tmpl in TEMPLATES
    }
    assert counts == {eid: 1 for eid in EVENT_IDS}, plan


def test_tumbling_window_streaming_matches_batch(spark, tmp_path):
    """The same windows code gives identical results in streaming
    (memory sink, availableNow) and batch over the same rows."""
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    from log_analysis_bigdata_spark.catalog import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    src = str(tmp_path / "events_parquet")
    ev.write.parquet(src)

    batch = {
        (str(r["window_start"]), r["event_type"]): (r["n"], r["total"])
        for r in tumbling_counts(ev).collect()
    }

    stream_df = spark.readStream.schema(ev.schema).parquet(src)
    agg = tumbling_counts(stream_df, watermark="1 hour")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("tumbling_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        (str(r["window_start"]), r["event_type"]): (r["n"], r["total"])
        for r in spark.sql("SELECT * FROM tumbling_out").collect()
    }
    assert streamed == batch


def test_stateful_running_sessions_across_batches(spark, tmp_path):
    """applyInPandasWithState: per-block state survives micro-batches —
    counts accumulate, span widens, n_updates tracks trigger count."""
    from log_analysis_bigdata_spark.streaming.stateful import (
        running_block_sessions,
    )

    src = str(tmp_path / "lines")
    os.makedirs(src)

    def write_lines(fname, rows):
        with open(os.path.join(src, fname), "w") as f:
            for block_id, ts in rows:
                f.write(json.dumps({"block_id": block_id, "event_ts": ts}) + "\n")

    write_lines("b0.json", [("blk_a", "2008-11-09 20:35:18"),
                            ("blk_a", "2008-11-09 20:35:20"),
                            ("blk_b", "2008-11-09 20:40:00")])

    schema = "block_id string, event_ts string"
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(src)
        .select("block_id", F.to_timestamp("event_ts").alias("datetime"))
    )
    out = running_block_sessions(raw)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("running_sessions")
        .start()
    )
    try:
        q.processAllAvailable()
        snap1 = {
            r["block_id"]: r.asDict()
            for r in spark.sql(
                "select * from running_sessions"
            ).collect()
        }
        assert snap1["blk_a"]["n_lines"] == 2
        assert snap1["blk_b"]["n_lines"] == 1

        write_lines("b1.json", [("blk_a", "2008-11-09 20:36:00")])
        q.processAllAvailable()
        rows = spark.sql("select * from running_sessions").collect()
        # latest snapshot for blk_a: state carried over 2 -> 3 lines
        latest_a = max(
            (r for r in rows if r["block_id"] == "blk_a"),
            key=lambda r: r["n_updates"],
        )
        assert latest_a["n_lines"] == 3
        assert latest_a["n_updates"] == 2
        span_sec = (latest_a["end_ts_us"] - latest_a["start_ts_us"]) / 1e6
        assert span_sec == 42.0  # 20:35:18 -> 20:36:00
    finally:
        q.stop()


def test_stream_dedup_within_watermark(spark, tmp_path):
    """At-least-once delivery dedup: replayed message ids are dropped
    in-stream by dropDuplicatesWithinWatermark (state expires with the
    watermark, unlike unbounded dropDuplicates)."""
    src = str(tmp_path / "dupsrc")
    os.makedirs(src)
    msgs = [
        {"msg_id": "m1", "block_id": "blk_a", "event_ts": "2008-11-09 20:35:18"},
        {"msg_id": "m2", "block_id": "blk_b", "event_ts": "2008-11-09 20:35:20"},
        {"msg_id": "m1", "block_id": "blk_a", "event_ts": "2008-11-09 20:35:18"},
        {"msg_id": "m2", "block_id": "blk_b", "event_ts": "2008-11-09 20:35:20"},
        {"msg_id": "m3", "block_id": "blk_a", "event_ts": "2008-11-09 20:40:00"},
    ]
    with open(os.path.join(src, "b0.json"), "w") as fh:
        for m in msgs:
            fh.write(json.dumps(m) + "\n")

    raw = (
        spark.readStream.schema("msg_id string, block_id string, event_ts string")
        .json(src)
        .select(
            "msg_id", "block_id",
            F.to_timestamp("event_ts").alias("event_time"),
        )
        .withWatermark("event_time", "10 minutes")
        .dropDuplicatesWithinWatermark(["msg_id"])
    )
    q = (
        raw.writeStream.outputMode("append")
        .format("memory")
        .queryName("deduped_stream")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("select msg_id from deduped_stream").collect()
        assert sorted(r["msg_id"] for r in rows) == ["m1", "m2", "m3"]
    finally:
        q.stop()


def test_stream_dedup_replay_in_later_microbatch(spark, tmp_path):
    """The at-least-once case the sink-side upsert alone can't cheaply
    absorb: a replayed message arriving in a LATER micro-batch. With
    maxFilesPerTrigger=1 each file is its own micro-batch; the m1 replay
    in batch 2 must be dropped by dropDuplicatesWithinWatermark state
    carried across batches (state bounded by the 10-minute horizon)."""
    from log_analysis_bigdata_spark.streaming.job import dedup_messages

    src = str(tmp_path / "replaysrc")
    os.makedirs(src)

    def write(fname, msgs):
        with open(os.path.join(src, fname), "w") as fh:
            for m in msgs:
                fh.write(json.dumps(m) + "\n")

    write("b0.json", [
        {"block_id": "blk_a", "event_ts": "2008-11-09 20:35:18"},
        {"block_id": "blk_b", "event_ts": "2008-11-09 20:35:20"},
    ])
    write("b1.json", [
        {"block_id": "blk_a", "event_ts": "2008-11-09 20:35:18"},  # replay
        {"block_id": "blk_c", "event_ts": "2008-11-09 20:36:00"},
    ])

    raw = (
        spark.readStream.schema("block_id string, event_ts string")
        .option("maxFilesPerTrigger", 1)
        .json(src)
        .select("block_id", F.to_timestamp("event_ts").alias("start_ts"))
    )
    deduped = dedup_messages(raw, "block_id", "start_ts", "10 minutes")
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("replay_dedup")
        .start()
    )
    try:
        q.processAllAvailable()
        assert q.lastProgress is not None
        rows = spark.sql("select block_id from replay_dedup").collect()
        assert sorted(r["block_id"] for r in rows) == ["blk_a", "blk_b", "blk_c"]
        # at least 2 micro-batches actually ran (the replay crossed one)
        assert len(q.recentProgress) >= 2
    finally:
        q.stop()


def test_stream_stream_interval_join(spark, tmp_path):
    """Stream-stream inner join with watermarks on both sides and an
    interval condition — a capability the reference's one-message loop
    cannot express (its consumer is stateless, SURVEY T6)."""
    imp_dir, clk_dir = str(tmp_path / "imp"), str(tmp_path / "clk")
    os.makedirs(imp_dir); os.makedirs(clk_dir)
    with open(os.path.join(imp_dir, "b0.json"), "w") as fh:
        for ad, t in [("ad1", "2008-11-09 20:00:00"), ("ad2", "2008-11-09 20:05:00")]:
            fh.write(json.dumps({"ad_id": ad, "imp_ts": t}) + "\n")
    with open(os.path.join(clk_dir, "b0.json"), "w") as fh:
        for ad, t in [
            ("ad1", "2008-11-09 20:03:00"),   # within 10 min of ad1 → joins
            ("ad2", "2008-11-09 20:30:00"),   # 25 min after ad2 → dropped
        ]:
            fh.write(json.dumps({"ad_id": ad, "click_ts": t}) + "\n")

    imps = (
        spark.readStream.schema("ad_id string, imp_ts string").json(imp_dir)
        .select("ad_id", F.to_timestamp("imp_ts").alias("imp_time"))
        .withWatermark("imp_time", "1 hour")
    )
    clicks = (
        spark.readStream.schema("ad_id string, click_ts string").json(clk_dir)
        .select(
            F.col("ad_id").alias("c_ad_id"),
            F.to_timestamp("click_ts").alias("click_time"),
        )
        .withWatermark("click_time", "1 hour")
    )
    joined = imps.join(
        clicks,
        (F.col("ad_id") == F.col("c_ad_id"))
        & (F.col("click_time") >= F.col("imp_time"))
        & (F.col("click_time") <= F.col("imp_time") + F.expr("INTERVAL 10 MINUTES")),
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("attributed")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("select ad_id from attributed").collect()
        assert [r["ad_id"] for r in rows] == ["ad1"]
    finally:
        q.stop()


def test_checkpoint_restart_exactly_once(spark, tmp_path):
    """Kill the query, add data, restart from the SAME checkpoint: the
    first batch is not reprocessed (offsets recovered), the new batch is,
    and the keyed upsert stays consistent — the engine's exactly-once
    answer to the reference's at-least-once consumer (SURVEY T3)."""
    src = str(tmp_path / "src")
    tgt = str(tmp_path / "detections")
    ckpt = str(tmp_path / "ckpt")
    _write_messages(src, [_msg("blk_r1", 2, 1)])

    def start():
        return run_file_stream(
            spark, src, tgt, ckpt, TEMPLATES, EVENT_IDS,
            weights={"E1": 0.9, "E2": 0.5}, bias=-1.0,
        )

    q = start()
    q.awaitTermination(120)
    first = {r["block_id"]: r["E1"] for r in spark.read.parquet(tgt).collect()}
    assert first == {"blk_r1": 2}

    # second file arrives while the query is down
    with open(os.path.join(src, "batch1.json"), "w") as fh:
        fh.write(json.dumps(_msg("blk_r2", 1, 1)) + "\n")

    q2 = start()  # same checkpoint dir → resumes after the first batch
    q2.awaitTermination(120)
    out = {r["block_id"]: r["E1"] for r in spark.read.parquet(tgt).collect()}
    assert out == {"blk_r1": 2, "blk_r2": 1}  # old key intact, new key added


def test_stream_foreachbatch_jdbc_sink_derby(spark, tmp_path):
    """Streaming → external JDBC sink, executed for real: each
    micro-batch appends into an embedded-Derby table via the same
    `write_jdbc` builder the batch layer uses (the streaming rendering
    of the reference's `load_data_to_sql.py` export). Asserts all
    streamed rows land exactly once under availableNow."""
    from log_analysis_bigdata_spark.sources.io import write_jdbc

    spark._jvm.java.lang.System.setProperty(
        "derby.system.home", str(tmp_path / "derby")
    )
    url = "jdbc:derby:memory:streamdb;create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"

    src = tmp_path / "src"
    _write_messages(
        str(src), [_msg("blk_1", 2, 1), _msg("blk_2", 1, 1), _msg("blk_3", 0, 2)]
    )

    from log_analysis_bigdata_spark.streaming.job import SESSION_MESSAGE

    raw = spark.readStream.schema(SESSION_MESSAGE).json(str(src))

    def to_jdbc(batch_df, epoch_id):
        write_jdbc(
            batch_df.select("block_id", "num_lines"),
            url,
            "stream_out",
            numPartitions="1",
            driver=driver,
            mode="append",
        ).save()

    q = (
        raw.writeStream.outputMode("append")
        .foreachBatch(to_jdbc)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    back = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "stream_out")
        .option("driver", driver)
        .load()
    )
    got = sorted((r["block_id"], r["num_lines"]) for r in back.collect())
    assert got == [("blk_1", 3), ("blk_2", 2), ("blk_3", 2)]

def test_stateful_ewma_across_batches(spark, tmp_path):
    """applyInPandasWithState EWMA: the running scalar folds across
    micro-batches (state is O(1) per key, never the history array)."""
    from log_analysis_bigdata_spark.streaming.stateful import ewma_user_values

    src = str(tmp_path / "ewma_src")
    os.makedirs(src)

    def write_events(fname, rows):
        with open(os.path.join(src, fname), "w") as f:
            for eid, ts, uid, v in rows:
                f.write(json.dumps(
                    {"event_id": eid, "event_ts": ts, "user_id": uid,
                     "value": v}) + "\n")

    write_events("b0.json", [(1, "2008-11-09 20:35:18", 7, 10.0),
                             (2, "2008-11-09 20:35:20", 7, 20.0)])

    schema = "event_id long, event_ts string, user_id long, value double"
    raw = (
        spark.readStream.schema(schema)
        .json(src)
        .select("event_id", "user_id", "value",
                F.to_timestamp("event_ts").alias("ts"))
    )
    q = (
        ewma_user_values(raw).writeStream.outputMode("update")
        .format("memory")
        .queryName("ewma_stateful_test")
        .start()
    )
    try:
        q.processAllAvailable()
        # second batch arrives only after the first trigger committed, so
        # the cross-trigger fold order is deterministic
        write_events("b1.json", [(3, "2008-11-09 20:36:00", 7, 30.0)])
        q.processAllAvailable()
        rows = spark.sql("select * from ewma_stateful_test").collect()
        latest = max((r for r in rows if r["user_id"] == 7),
                     key=lambda r: r["n_events"])
        # fold: 10 -> .3*20+.7*10=13 -> .3*30+.7*13=18.1 (across 2 batches)
        assert latest["n_events"] == 3
        assert abs(latest["ewma"] - 18.1) < 1e-9
        assert len(q.recentProgress) >= 2  # state really crossed a trigger
    finally:
        q.stop()


def test_stateful_ewma_matches_batch_query(spark):
    """Batch/stream twin equality: the availableNow replay of the
    stateful EWMA equals the batch fold query on the same table."""
    from log_analysis_bigdata_spark.queries import all_queries

    reg = all_queries()
    sf = "/root/testdata/sf0.001"
    got = {
        r["user_id"]: (r["n_events"], r["ewma"])
        for r in reg["ewma_user_value_stateful"].spark(spark, sf).collect()
    }
    want = {
        r["user_id"]: (r["n_events"], r["ewma"])
        for r in reg["ewma_user_value"].spark(spark, sf).collect()
    }
    assert got == want and len(got) > 0


def test_streaming_topk_space_saving(spark, tmp_path):
    """Space-saving heavy hitters: state folds across micro-batches;
    counts are exact (max_err=0) while distinct items ≤ m, and an
    eviction inherits the evicted minimum as its error bound."""
    from log_analysis_bigdata_spark.streaming import stateful as st

    src = str(tmp_path / "topk_src")
    os.makedirs(src)

    def write(fname, rows):
        with open(os.path.join(src, fname), "w") as f:
            for g, item in rows:
                f.write(json.dumps({"g": g, "item": item}) + "\n")

    # batch 1: group A sees items 1..3 with skewed counts
    write("b0.json", [("A", 1)] * 5 + [("A", 2)] * 3 + [("A", 3)])
    raw = spark.readStream.schema("g string, item long").json(src)
    q = (
        st.streaming_topk_items(raw, "g", "item")
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("topk_stream")
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2 arrives later: counts must ACCUMULATE in state
        write("b1.json", [("A", 1)] * 2 + [("A", 3)] * 3)
        q.processAllAvailable()
        rows = spark.sql("select * from topk_stream").collect()
        latest = {}
        for r in rows:  # update mode re-emits; last snapshot per item wins
            latest[(r["group_key"], r["item"])] = (r["est_count"], r["max_err"])
        assert latest[("A", 1)] == (7, 0)   # 5 + 2 across batches
        assert latest[("A", 2)] == (3, 0)
        assert latest[("A", 3)] == (4, 0)   # 1 + 3
        assert len(q.recentProgress) >= 2
        # n_seen is Σ est_count per emission and strictly monotone across
        # emissions — the final-snapshot selector stream_topk_user_event_
        # types relies on: batch-1 rows carry 9, batch-2 rows carry 14,
        # and filtering to max(n_seen) recovers exactly the final summary
        n_seens = sorted({r["n_seen"] for r in rows})
        assert n_seens == [9, 14]
        finals = [r for r in rows if r["n_seen"] == 14]
        assert {(r["item"], r["est_count"]) for r in finals} == {
            (1, 7), (2, 3), (3, 4)
        }
    finally:
        q.stop()

    # eviction bound: m+1-th distinct item inherits min count as err
    state = {}

    class FakeState:
        exists = False
        def update(self, v):
            state["v"] = v

    import pandas as pd

    m_items = [(i, 1) for i in range(st.TOPK_M)] + [(999, 1)]
    pdf = pd.DataFrame({"item": [i for i, n in m_items for _ in range(n)]})
    out = list(st._update_topk(("B",), [pdf], FakeState()))[0]
    got = dict(zip(out["item"], zip(out["est_count"], out["max_err"])))
    # 999 evicted the min counter (count 1) -> est 2, err 1
    assert got[999] == (2, 1)
    assert sum(1 for c, e in got.values() if e == 0) == st.TOPK_M - 1


def test_stateful_ewma_rocksdb_state_store(spark, tmp_path):
    """The scale-grade state backend: the stateful EWMA runs unchanged on
    the RocksDB state store provider (state spills to local disk instead
    of executor heap — the backend a 10⁹-key production stream needs) and
    produces the same fold across micro-batches as the default HDFS-
    backed store."""
    from log_analysis_bigdata_spark.streaming.stateful import ewma_user_values

    src = str(tmp_path / "ewma_rocks_src")
    os.makedirs(src)

    def write_events(fname, rows):
        with open(os.path.join(src, fname), "w") as f:
            for eid, ts, uid, v in rows:
                f.write(json.dumps(
                    {"event_id": eid, "event_ts": ts, "user_id": uid,
                     "value": v}) + "\n")

    write_events("b0.json", [(1, "2008-11-09 20:35:18", 7, 10.0),
                             (2, "2008-11-09 20:35:20", 7, 20.0)])

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        raw = (
            spark.readStream.schema(
                "event_id long, event_ts string, user_id long, value double")
            .json(src)
            .select("event_id", "user_id", "value",
                    F.to_timestamp("event_ts").alias("ts"))
        )
        q = (
            ewma_user_values(raw).writeStream.outputMode("update")
            .format("memory")
            .queryName("ewma_rocksdb_test")
            .option("checkpointLocation", str(tmp_path / "rocks_ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
            write_events("b1.json", [(3, "2008-11-09 20:36:00", 7, 30.0)])
            q.processAllAvailable()
            rows = spark.sql("select * from ewma_rocksdb_test").collect()
            latest = max((r for r in rows if r["user_id"] == 7),
                         key=lambda r: r["n_events"])
            # same fold as the default-store test: 10 -> 13 -> 18.1
            assert latest["n_events"] == 3
            assert abs(latest["ewma"] - 18.1) < 1e-9
        finally:
            q.stop()
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_stream_stream_join_is_symmetric_hash_with_watermarks(spark):
    """stream_stream_join_attribution must run as a real stream-stream
    join — both sides watermarked (bounded state eviction), not a
    static-batch rewrite — and its availableNow replay must equal the
    batch interval join on the same rows. (Value parity vs DuckDB is the
    registry oracle's job; this pins the streaming execution shape.)"""
    from pyspark.sql import functions as F

    from log_analysis_bigdata_spark.catalog import load_table, load_table_stream
    from log_analysis_bigdata_spark.queries.streamq import (
        stream_stream_join_attribution,
    )

    sf = "/root/testdata/sf0.001"
    ev = load_table_stream(spark, sf, "events").select(
        "user_id", "ts", "event_type"
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "1 hour")
    )
    pairs = clicks.join(
        purchases,
        F.expr(
            "user_id = p_user AND p_ts >= click_ts "
            "AND p_ts <= click_ts + interval 30 minutes"
        ),
    )
    assert pairs.isStreaming
    plan = pairs._jdf.queryExecution().analyzed().toString()
    assert plan.count("EventTimeWatermark") == 2  # both sides watermarked

    got = {
        r["user_id"]: (r["n_pairs"], r["min_lag_sec"])
        for r in stream_stream_join_attribution(spark, sf).collect()
    }
    e = load_table(spark, sf, "events")
    c = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("cts")
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("ts").alias("pts")
    )
    want_df = (
        c.join(
            p,
            F.expr(
                "user_id = pu AND pts >= cts "
                "AND pts <= cts + interval 30 minutes"
            ),
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(
                F.col("pts").cast("long") - F.col("cts").cast("long")
            ).alias("lag"),
        )
    )
    want = {r["user_id"]: (r["n"], r["lag"]) for r in want_df.collect()}
    assert got == want and len(got) > 0


def test_windowed_state_shrinks_after_watermark_expiry(spark, tmp_path):
    """Bounded state under watermark expiry (VERDICT r6 task 7): the
    difference between "runs at sf0.1" and "survives an unbounded
    stream" is that the state store SHRINKS when windows pass the
    watermark — not just that rows stop changing. Drive event time
    forward across micro-batches and assert
    ``stateOperators[].numRowsTotal`` actually falls after expiry."""
    import datetime as dt

    src = str(tmp_path / "wm_shrink_src")
    os.makedirs(src)
    base = dt.datetime(2008, 11, 9, 20, 0, 0)

    def write_batch(name, minute_offsets):
        with open(os.path.join(src, name), "w") as fh:
            for i, m in enumerate(minute_offsets):
                ts = (base + dt.timedelta(minutes=m)).strftime(
                    "%Y-%m-%d %H:%M:%S"
                )
                fh.write(
                    json.dumps({"k": f"e{m}_{i}", "event_ts": ts}) + "\n"
                )

    agg = (
        spark.readStream.schema("k string, event_ts string")
        .json(src)
        .select("k", F.to_timestamp("event_ts").alias("event_time"))
        .withWatermark("event_time", "10 minutes")
        .groupBy(F.window("event_time", "5 minutes"))
        .agg(F.count("*").alias("n"))
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("wm_shrink")
        .start()
    )

    def state_rows():
        ops = q.lastProgress["stateOperators"]
        assert len(ops) == 1
        return ops[0]["numRowsTotal"]

    try:
        # batch 1: six 5-minute windows (0..30 min) enter the store.
        # processAllAvailable also runs the TRAILING empty batch Spark
        # schedules when the watermark advances (to 29 - 10 = 19 min),
        # which already evicts+emits the three windows ending <= 19 —
        # the store holds the three unexpired ones. Eviction is thus
        # visible within the very first step.
        write_batch("b1.json", [0, 4, 6, 11, 14, 17, 21, 26, 29])
        q.processAllAvailable()
        s1 = state_rows()
        assert s1 == 3

        # batch 2: one event 2 h later -> watermark 110 min. Every
        # original window evicts; only the 120-min window remains.
        write_batch("b2.json", [120])
        q.processAllAvailable()
        s2 = state_rows()
        assert s2 == 1
        assert s2 < s1

        # batch 3: 4 h out -> the 120-min window evicts too. Total
        # state never grows with stream length, only with the number
        # of OPEN windows.
        write_batch("b3.json", [240])
        q.processAllAvailable()
        s3 = state_rows()
        assert s3 == 1  # just the 240-minute window

        # the evicted windows were EMITTED, not dropped: append mode
        # has released all six closed windows plus the 120-min one
        emitted = spark.sql("select count(*) n from wm_shrink").collect()
        assert emitted[0]["n"] == 7
    finally:
        q.stop()


def test_stream_stream_join_state_shrinks_after_watermark(spark, tmp_path):
    """Join-state boundedness (the interval-join companion to
    test_windowed_state_shrinks_after_watermark_expiry): buffered rows
    on BOTH sides must be evicted once the joint watermark passes the
    interval bound, so numRowsTotal falls instead of accumulating the
    whole stream."""
    import datetime as dt

    imp_dir, clk_dir = str(tmp_path / "imp2"), str(tmp_path / "clk2")
    os.makedirs(imp_dir)
    os.makedirs(clk_dir)
    base = dt.datetime(2008, 11, 9, 20, 0, 0)

    def w(d, name, col, minutes):
        with open(os.path.join(d, name), "w") as fh:
            for i, m in enumerate(minutes):
                ts = (base + dt.timedelta(minutes=m)).strftime(
                    "%Y-%m-%d %H:%M:%S"
                )
                fh.write(
                    json.dumps({"ad_id": f"ad{m}_{i}", col: ts}) + "\n"
                )

    imps = (
        spark.readStream.schema("ad_id string, imp_ts string").json(imp_dir)
        .select("ad_id", F.to_timestamp("imp_ts").alias("imp_time"))
        .withWatermark("imp_time", "10 minutes")
    )
    clicks = (
        spark.readStream.schema("ad_id string, click_ts string").json(clk_dir)
        .select(
            F.col("ad_id").alias("c_ad_id"),
            F.to_timestamp("click_ts").alias("click_time"),
        )
        .withWatermark("click_time", "10 minutes")
    )
    joined = imps.join(
        clicks,
        (F.col("ad_id") == F.col("c_ad_id"))
        & (F.col("click_time") >= F.col("imp_time"))
        & (
            F.col("click_time")
            <= F.col("imp_time") + F.expr("INTERVAL 5 MINUTES")
        ),
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("join_state_shrink")
        .start()
    )

    def state_rows():
        return sum(
            op["numRowsTotal"] for op in q.lastProgress["stateOperators"]
        )

    try:
        # batch 1: 8 impressions + 8 clicks buffer on both sides
        w(imp_dir, "b1.json", "imp_ts", [0, 2, 4, 6, 8, 10, 12, 14])
        w(clk_dir, "b1.json", "click_ts", [1, 3, 5, 7, 9, 11, 13, 15])
        q.processAllAvailable()
        s1 = state_rows()
        assert s1 >= 12  # both sides buffered (some may already expire)

        # advance BOTH watermarks 2 h: every buffered row is past the
        # interval bound and must evict
        w(imp_dir, "b2.json", "imp_ts", [120])
        w(clk_dir, "b2.json", "click_ts", [121])
        q.processAllAvailable()
        s2 = state_rows()
        assert s2 < s1
        assert s2 <= 4  # only the two 120-min rows (+ margin rows)
    finally:
        q.stop()


def test_serving_freshness_under_processing_time_trigger(spark, tmp_path):
    """T7 freshness (VERDICT r15 task 8): the reference demo keeps its
    dashboard fresh by polling HBase every REALTIME_POLL_INTERVAL=1 s
    (app.py:55-81) while the Kafka job upserts continuously. The Spark
    mapping is a processingTime-triggered stream keeping the serving
    table fresh while readers re-scan it: an event file landing in the
    source must become visible to the ServingAPI read path within a
    bounded latency — and an UPDATE for the same key must replace it
    (last-write-wins freshness), all while the query stays up."""
    import time as _time

    from log_analysis_bigdata_spark.serving import ServingAPI

    src = str(tmp_path / "src")
    tgt = str(tmp_path / "detections")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    # budget: generous vs the ~1 s cadence to absorb shared-host noise;
    # the point is "seconds, continuously", not a microbenchmark
    budget_s = 60.0

    q = run_file_stream(
        spark, src, tgt, ckpt, TEMPLATES, EVENT_IDS,
        trigger={"processingTime": "500 milliseconds"},
    )
    try:
        def visible(pred, deadline):
            while _time.time() < deadline:
                if os.path.isdir(tgt):
                    try:
                        rows = {
                            r["block_id"]: r.asDict()
                            for r in ServingAPI(
                                spark.read.parquet(tgt),
                                key_col="block_id",
                            ).latest(limit=10).collect()
                        }
                    except Exception:
                        rows = {}  # sink mid-rewrite: retry next poll
                    if pred(rows):
                        return _time.time()
                _time.sleep(0.25)
            return None

        t0 = _time.time()
        with open(os.path.join(src, "f0.json"), "w") as f:
            f.write(json.dumps(_msg("blk_-41", 2, 1)) + "\n")
        seen = visible(
            lambda r: "blk_-41" in r and r["blk_-41"]["E1"] == 2,
            t0 + budget_s,
        )
        assert seen is not None, "event never became serving-visible"
        first_latency = seen - t0

        t1 = _time.time()
        with open(os.path.join(src, "f1.json"), "w") as f:
            f.write(json.dumps(_msg("blk_-41", 6, 3)) + "\n")
        seen2 = visible(
            lambda r: r.get("blk_-41", {}).get("E1") == 6
            and r["blk_-41"]["E2"] == 3,
            t1 + budget_s,
        )
        assert seen2 is not None, "update never became serving-visible"
        update_latency = seen2 - t1
        # record the measured freshness in the assertion surface
        assert first_latency <= budget_s and update_latency <= budget_s, (
            first_latency, update_latency,
        )
        assert q.isActive  # continuous trigger: still up after both
        # surface the measured freshness (pytest -s / captured output)
        # so evidence docs can cite a number instead of "TO FILL"
        print(
            f"\nserving freshness: first={first_latency:.2f}s "
            f"update={update_latency:.2f}s (budget {budget_s:.0f}s)"
        )
    finally:
        q.stop()
