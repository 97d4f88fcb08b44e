"""Smoke tests of the benchmark itself.

    python -m pytest perfbench/tests -q

The generator and event-log tests run in well under a second. The
end-to-end tests run ``perfbench/run.py`` at the tiny input size (40-80 s
per workload and mode on 4 cores).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import batch_hdfs  # noqa: E402
import hdfs_gen as G  # noqa: E402
import registry_pipelines  # noqa: E402
import star_gen  # noqa: E402
import stream_serve  # noqa: E402
from common import read_event_log, serve_p50_ms  # noqa: E402

WORKLOADS = {"batch_hdfs": batch_hdfs.WORKLOAD, "stream_serve": stream_serve.WORKLOAD,
             "registry_pipelines": registry_pipelines.WORKLOAD}


def test_templates_keep_wildcards_and_addstoredblock_family():
    assert len(G.TEMPLATES) == 29
    assert all(t.startswith("[*]") and t.endswith("[*]") for _, t in G.TEMPLATES)
    fam = [t for _, t in G.TEMPLATES if "addStoredBlock" in t]
    assert len(fam) == 3


def test_first_match_wins_on_overlapping_line():
    msg = "PacketResponder 1 for block blk_5 Interrupted Exception java.io.InterruptedIOException"
    matches = [e for e, rx in G._COMPILED if rx.search(msg)]
    assert matches == ["E8", "E10"]
    assert G.tag(msg) == "E8"


def test_batch_log_is_seeded_and_truth_is_consistent():
    a, b = G.batch_log(11, 60), G.batch_log(11, 60)
    assert a.lines == b.lines and a.labels == b.labels
    assert G.batch_log(12, 60).lines != a.lines
    t = a.truth
    assert t["n_lines"] == len(a.lines)
    assert all(10 <= s["num_lines"] <= 40 for s in t["sessions"].values())
    no_block = [l for l in a.lines if not G.RE_BLOCK_ID.search(l)]
    assert no_block, "lines with no block id"
    untagged = [l for l in a.lines if G.RE_BLOCK_ID.search(l)
                and G.tag(G.RE_MESSAGE.search(l).group(1)) is None]
    assert untagged, "block lines that match no template"
    # every tagged block line is counted once in its block's features
    tagged = sum(sum(c.values()) for c in t["features"].values())
    assert tagged == len(a.lines) - len(no_block) - len(untagged)
    labels = dict(a.labels)
    assert any(b not in t["sessions"] for b in labels), "label-only blocks"
    assert set(t["labels"]) == set(t["sessions"])


def test_anomaly_share_is_about_three_percent():
    log = G.batch_log(5, 3000)
    assert 0.015 < log.truth["n_anomalous"] / 3000 < 0.05


def test_stream_steps_replay_and_update():
    steps = G.stream_steps(3, 6, 2, 1, 1)
    again = G.stream_steps(3, 6, 2, 1, 1)
    assert [s.payload for s in steps] == [s.payload for s in again]
    for prev, cur in zip(steps, steps[1:]):
        lines = cur.payload.splitlines()
        keys = [json.loads(l)["block_id"] for l in lines]
        assert len(keys) == len(set(keys)), "a key appears once per file"
        replays = [l for l in lines if l in prev.payload.splitlines()]
        assert len(replays) == cur.n_replays == 1
    assert sum(s.n_updates for s in steps) == 5
    # an update carries a longer snapshot of a key sent in an earlier file
    sent: dict[str, int] = {}
    for s in steps:
        for l in s.payload.splitlines():
            m = json.loads(l)
            if m["block_id"] in sent and m["block_id"] not in s.new_keys:
                assert m["num_lines"] >= sent[m["block_id"]]
            sent[m["block_id"]] = m["num_lines"]


def test_event_log_reader_maps_jobs_to_groups(tmp_path):
    d = tmp_path / "eventlog_v2_app-1"
    d.mkdir()
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Submission Time": 1000, "Properties": {"spark.jobGroup.id": "pb-t-3"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
         "Submission Time": 1500, "Properties": {"spark.jobGroup.id": "other"}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [],
         "Submission Time": 1800, "Properties": {"spark.jobGroup.id": "pb-t-3"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2000},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2500},
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 2600},
    ] + [
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": sid, "Number of Tasks": 2, "Accumulables": [
                {"Name": "internal.metrics.executorRunTime", "Value": 100},
                {"Name": "internal.metrics.executorCpuTime", "Value": 5 * 10**7},
                {"Name": "internal.metrics.jvmGCTime", "Value": "10"},
                {"Name": "internal.metrics.shuffle.write.bytesWritten", "Value": 7}]}}
        for sid in (0, 1, 2)
    ]
    (d / "events_1_app-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    log = read_event_log(str(tmp_path))
    mine = log.totals(lambda job: job.group == "pb-t-3")
    # stage 1 belongs to the first job that lists it
    assert mine == {"jobs": 2, "run_s": 0.2, "cpu_s": 0.1, "gc_s": 0.02,
                    "shuffle_bytes": 14, "tasks": 4}
    assert log.totals(lambda job: job.group == "other")["tasks"] == 2
    # jobs 0 (1.0-2.0 s) and 2 (1.8-2.6 s) overlap; their union clipped to
    # the window [0, 2.4] is 1.0-2.4 s
    assert log.busy_s(lambda job: job.group == "pb-t-3", 0.0, 2.4) == pytest.approx(1.4)


def test_serve_p50_is_the_geometric_mean_of_per_read_medians():
    lat = {"latest": [1.0, 9.0, 2.0], "stats": [8.0, 8.0, 100.0]}
    assert serve_p50_ms(lat) == pytest.approx(4.0)


def test_star_schema_is_seeded_and_has_the_catalog_columns(tmp_path):
    import pyarrow.parquet as pq

    a = star_gen.star_schema(4, str(tmp_path / "a"), "tiny")
    star_gen.star_schema(4, str(tmp_path / "b"), "tiny")
    assert set(a) == {"region", "nation", "customer", "supplier", "part", "orders",
                      "lineitem", "events", "documents", "embeddings"}
    for name in a:
        ta = pq.read_table(tmp_path / "a" / f"{name}.parquet")
        assert ta.equals(pq.read_table(tmp_path / "b" / f"{name}.parquet"))
    docs = pq.read_table(tmp_path / "a" / "documents.parquet").to_pydict()
    assert docs["n_chars"] == [len(t) for t in docs["text"]]
    assert any(t.endswith(" dup") for t in docs["text"]), "near-duplicate documents"


def test_workloads_list_every_declared_per_layer_metric():
    listed = [set(w.LAYER_METRICS) for w in WORKLOADS.values()]
    assert set().union(*listed) == set(declared("per_layer"))
    names = registry_pipelines.WORKLOAD.LAYER_METRICS
    assert sum(n.startswith("queries.") for n in names) == 8 * 5


def declared(kind: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def run_bench(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=240)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_tiny_run_reports_every_metric(workload, trace):
    # the worker exits non-zero when a traced run does not report every
    # metric of its workload's LAYER_METRICS
    proc = run_bench(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    names = declared("per_layer" if trace else "end_to_end")
    assert {k: v["unit"] for k, v in res["metrics"].items()} == names
    if trace:
        # the layers every operation goes through did work
        own = WORKLOADS[workload].LAYER_METRICS
        for k in (f"{workload}.jobs", f"{workload}.py4j_calls", "serving.jobs_per_read"):
            if k in own:
                assert res["metrics"][k]["value"] > 0, k
    else:
        assert all(v["value"] > 0 for v in res["metrics"].values())


def test_fails_without_the_program(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = run_bench(str(tmp_path), "batch_hdfs", 0)
    assert proc.returncode != 0
    assert not proc.stdout.strip()
