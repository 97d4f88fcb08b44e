"""End-to-end batch-pipeline parity: the notebook EP1 flow (SURVEY §3)
on HDFS-shaped raw log text with hand-computed golden outputs.

raw text → P1 parse → F4 timestamps → template tagging (first-match) →
A1 traces → A2 feature counts → A3/A4 sessionization → J2 label join —
the full `prepare_data_batch.ipynb` cells 2-10 + 26-30 pipeline, with
every intermediate checked (the committed notebook cell outputs are the
reference's de-facto goldens; ours are computed from the same fixture).
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from log_analysis_bigdata_spark.functions.logparse import parse_log_lines
from log_analysis_bigdata_spark.functions.templates import tag_events
from log_analysis_bigdata_spark.operators.features import (
    event_traces,
    feature_counts_hof,
    feature_counts_pivot,
)
from log_analysis_bigdata_spark.operators.sessionize import (
    label_sessions,
    sessionize,
)
from log_analysis_bigdata_spark.streaming.job import message_features

TEMPLATES = [
    ("E1", "Receiving block[*]src:[*]dest:[*]"),
    ("E2", "PacketResponder[*]for block[*]terminating"),
    ("E3", "Received block[*]of size[*]from[*]"),
]

# yyMMdd HHmmss raw format (the real HDFS_v1 shape); blk_2 spans 75 sec.
RAW = [
    "081109 203518 143 INFO dfs.DataNode$DataXceiver: Receiving block blk_1 src: /10.0.0.1 dest: /10.0.0.9",
    "081109 203519 145 INFO dfs.DataNode$PacketResponder: PacketResponder 1 for block blk_1 terminating",
    "081109 203520 145 INFO dfs.DataNode$DataXceiver: Received block blk_1 of size 91178 from /10.0.0.1",
    "081109 203600 150 INFO dfs.DataNode$DataXceiver: Receiving block blk_2 src: /10.0.0.2 dest: /10.0.0.8",
    "081109 203715 151 INFO dfs.DataNode$PacketResponder: PacketResponder 0 for block blk_2 terminating",
    "081109 203530 999 WARN dfs.FSNamesystem: unmatched line for blk_1",
]

LABELS = [("blk_1", "Normal"), ("blk_2", "Anomaly")]


def _parsed(spark):
    raw = spark.createDataFrame([(l,) for l in RAW], ["value"])
    return parse_log_lines(raw).withColumn(
        "block_id", F.regexp_extract("value", r"(blk_[\-0-9]+)", 1)
    )


def test_parse_stage(spark):
    rows = {r["value"]: r for r in _parsed(spark).collect()}
    r0 = rows[RAW[0]]
    assert str(r0["datetime"]) == "2008-11-09 20:35:18"
    assert r0["pid"] == 143 and r0["level"] == "INFO"
    assert r0["component"].startswith("dfs.DataNode")
    assert r0["block_id"] == "blk_1"
    assert rows[RAW[5]]["level"] == "WARN"


def test_template_and_traces_stage(spark):
    tagged = tag_events(_parsed(spark), TEMPLATES, message_col="message")
    traces = {
        r["block_id"]: r["event_seq"]
        for r in event_traces(
            tagged.filter(F.col("event_id").isNotNull()),
            "block_id", "datetime", "event_id",
        ).collect()
    }
    # chronological order within block, unmatched line excluded (P3)
    assert traces == {"blk_1": ["E1", "E2", "E3"], "blk_2": ["E1", "E2"]}


def test_feature_counts_both_variants_agree(spark):
    """Batch pivot, batch HOF and the speed layer's per-message counter
    give the same counts over the same raw lines."""
    event_ids = [t[0] for t in TEMPLATES]
    tagged = tag_events(_parsed(spark), TEMPLATES, message_col="message")
    matched = tagged.filter(F.col("event_id").isNotNull())
    pivot = feature_counts_pivot(matched, "block_id", "event_id", event_ids)
    traces = event_traces(matched, "block_id", "datetime", "event_id")
    hof = feature_counts_hof(traces, "block_id", "event_seq", event_ids)
    # one session message per block, as the speed layer receives it
    blocks: dict[str, list[str]] = {}
    for line in RAW:
        block = re.search(r"blk_[\-0-9]+", line).group(0)
        blocks.setdefault(block, []).append(line)
    msgs = spark.createDataFrame(
        [(b, "\n".join(lines)) for b, lines in blocks.items()],
        ["block_id", "log_full"],
    )
    stream = message_features(msgs, TEMPLATES, event_ids)
    p = {r["block_id"]: (r["E1"], r["E2"], r["E3"]) for r in pivot.collect()}
    h = {r["block_id"]: (r["E1"], r["E2"], r["E3"]) for r in hof.collect()}
    m = {r["block_id"]: (r["E1"], r["E2"], r["E3"]) for r in stream.collect()}
    assert p == h == m == {"blk_1": (1, 1, 1), "blk_2": (1, 1, 0)}


def test_feature_counts_pivot_one_shuffle(spark):
    """The batch counter is one conditional-count aggregate: one shuffle
    Exchange and no pivot; an event that never occurs counts 0."""
    tagged = tag_events(_parsed(spark), TEMPLATES, message_col="message")
    feats = feature_counts_pivot(tagged, "block_id", "event_id", ["E3", "E9"])
    plan = feats._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1 and "pivotfirst" not in plan, plan
    rows = {r["block_id"]: (r["E3"], r["E9"]) for r in feats.collect()}
    # the unmatched WARN line of blk_1 has a null event and counts nowhere
    assert rows == {"blk_1": (1, 0), "blk_2": (0, 0)}


def test_session_and_label_stage(spark):
    parsed = _parsed(spark).filter(F.col("block_id") != "")
    sessions = sessionize(parsed, "block_id", "datetime", line_col="value")
    labels = spark.createDataFrame(LABELS, ["block_id", "label"])
    out = {r["block_id"]: r.asDict()
           for r in label_sessions(sessions, labels, "block_id").collect()}

    b2 = out["blk_2"]
    assert str(b2["start_ts"]) == "2008-11-09 20:36:00"
    assert str(b2["end_ts"]) == "2008-11-09 20:37:15"
    assert b2["duration_sec"] == 75  # epoch-cast subtraction, cell 29
    assert b2["num_lines"] == 2
    assert b2["label"] == "Anomaly"

    b1 = out["blk_1"]
    assert b1["num_lines"] == 4  # includes the unmatched WARN line
    assert b1["label"] == "Normal"
    # log_full is chronologically ordered original lines joined by \n
    lines = b1["log_full"].split("\n")
    assert lines == [RAW[0], RAW[1], RAW[2], RAW[5]]


# BASELINE.md anchor: prepare_data_batch.ipynb cell 31's committed sample
# (BlockId, start_ts, end_ts, duration_sec, num_lines, label). Block ids
# are truncated in the committed show() output; the invariants under test
# are the session boundaries, the epoch-subtraction duration and the line
# count, so representative full ids stand in for the truncated tails.
CELL31_ANCHORS = [
    ("blk_-1001138135617662562", "2008-11-10 01:19:42", "2008-11-10 10:36:17", 33395, 31, "Normal"),
    ("blk_-1005590426018699440", "2008-11-11 07:07:19", "2008-11-11 09:01:33", 6854, 19, "Normal"),
    ("blk_-1021309077462882811", "2008-11-11 02:54:37", "2008-11-11 04:47:40", 6783, 19, "Normal"),
    ("blk_-1024067452272781405", "2008-11-11 09:00:23", "2008-11-11 09:02:52", 149, 13, "Normal"),
    ("blk_-1027487181712911017", "2008-11-11 08:32:16", "2008-11-11 08:32:51", 35, 13, "Normal"),
]


def test_cell31_golden_session_rows(spark):
    """Reproduce the reference's committed Phase-1 session sample
    (cell 31) row-for-row: for each anchor, synthesize num_lines raw
    HDFS_v1 lines whose first/last timestamps are the committed session
    bounds, run the full parse→sessionize→label pipeline, and assert the
    exact committed (start_ts, end_ts, duration_sec, num_lines, label)."""
    from datetime import datetime, timedelta

    raw, labels = [], []
    for blk, start, end, dur, n_lines, label in CELL31_ANCHORS:
        t0 = datetime.strptime(start, "%Y-%m-%d %H:%M:%S")
        t1 = datetime.strptime(end, "%Y-%m-%d %H:%M:%S")
        assert int((t1 - t0).total_seconds()) == dur  # anchor self-check
        steps = [t0 + (t1 - t0) * i / (n_lines - 1) for i in range(n_lines)]
        steps = [t.replace(microsecond=0) for t in steps[:-1]] + [t1]
        steps[0] = t0
        for i, t in enumerate(steps):
            stamp = t.strftime("%y%m%d %H%M%S")
            raw.append(
                f"{stamp} {140 + i} INFO dfs.DataNode$DataXceiver: "
                f"Receiving block {blk} src: /10.0.0.1 dest: /10.0.0.9"
            )
        labels.append((blk, label))

    df = spark.createDataFrame([(l,) for l in raw], ["value"])
    parsed = parse_log_lines(df).withColumn(
        "block_id", F.regexp_extract("value", r"(blk_[\-0-9]+)", 1)
    )
    sessions = sessionize(parsed, "block_id", "datetime", line_col="value")
    out = {
        r["block_id"]: r.asDict()
        for r in label_sessions(
            sessions, spark.createDataFrame(labels, ["block_id", "label"]), "block_id"
        ).collect()
    }
    assert len(out) == len(CELL31_ANCHORS)
    for blk, start, end, dur, n_lines, label in CELL31_ANCHORS:
        row = out[blk]
        assert str(row["start_ts"]) == start, blk
        assert str(row["end_ts"]) == end, blk
        assert row["duration_sec"] == dur, blk
        assert row["num_lines"] == n_lines, blk
        assert row["label"] == label, blk
