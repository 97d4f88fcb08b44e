"""Workload ``stream_serve``: the speed layer and the serving layer on
one table.

Per step the generator lands one JSON file of session messages: new
blocks, byte-identical replays of lines of the previous file, and newer
payloads for keys sent before. The benchmark waits until
``run_file_stream`` (processingTime trigger, ``processAllAvailable()``)
has upserted it and the step's newest key is visible through
``ServingAPI``. After the steps it issues the fixed read mix over the
upsert table. Closed loop, one client: the next file lands only after
the previous step has returned and been checked.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import time

import hdfs_gen as G
from common import (
    Context,
    Tracer,
    Workload,
    dur,
    median,
    metric,
    peak_rss_mb,
    read_event_log,
    read_mix,
    session,
    tree_files,
)

from log_analysis_bigdata_spark.schemas import SESSION_MESSAGE
from log_analysis_bigdata_spark.serving import ServingAPI
from log_analysis_bigdata_spark.streaming.job import message_features, run_file_stream

NAME = "stream_serve"
# files, then per file: new blocks, replayed lines of the previous file,
# updates of older keys
STEPS = {"full": (40, 2, 1, 1), "tiny": (8, 2, 1, 1)}
# the speed layer's linear model: weights on the anomaly events
WEIGHTS = {"E4": 0.9, "E7": 1.5, "E8": 1.1, "E10": 1.2, "E12": 1.0, "E14": 1.0,
           "E17": 0.8, "E20": 0.9, "E27": 0.7, "E28": 0.7, "E5": -0.05, "E11": -0.05}
BIAS = -2.0
TRIGGER = {"processingTime": "100 milliseconds"}


class Stream:
    """One running speed-layer query and its directories."""

    def __init__(self, spark, base: str):
        self.spark = spark
        self.src, self.tgt = os.path.join(base, "src"), os.path.join(base, "tgt")
        self.base = base
        os.makedirs(self.src)
        self.query = run_file_stream(
            spark, self.src, self.tgt, os.path.join(base, "ckpt"), G.TEMPLATES, G.EVENT_IDS,
            weights=WEIGHTS, bias=BIAS, source_options={"maxFilesPerTrigger": "1"},
            trigger=TRIGGER)
        self.n_files = 0

    def land(self, payload: str) -> tuple[float, str]:
        """Write the file beside the source dir, then rename it in, so
        the source never lists a partial file. Returns the landing time."""
        tmp = os.path.join(self.base, "landing.json")
        with open(tmp, "w") as fh:
            fh.write(payload)
        dst = os.path.join(self.src, f"part-{self.n_files:05d}.json")
        self.n_files += 1
        t = time.time()
        os.rename(tmp, dst)
        return t, dst

    def wait_no_data_batch(self, last: int, timeout: float = 10.0) -> None:
        """Wait for the no-data micro-batch that follows a data batch once
        the watermark has moved (it evicts dedup state). Whether
        ``processAllAvailable()`` returns before or after it is a race;
        waiting for it makes every step the same work."""
        deadline = time.perf_counter() + timeout
        while time.perf_counter() < deadline:
            p = self.query.lastProgress
            if p["batchId"] > last and p["numInputRows"] == 0:
                return
            time.sleep(0.01)

    def data_batch_end(self, last: int) -> float:
        """When (epoch seconds) the first micro-batch after ``last`` that
        read rows finished, from the query's own progress report."""
        p = next(p for p in self.query.recentProgress
                 if p["batchId"] > last and p["numInputRows"] > 0)
        start = dt.datetime.fromisoformat(p["timestamp"]).timestamp()
        return start + p["durationMs"]["triggerExecution"] / 1e3

    def api(self) -> ServingAPI:
        return ServingAPI(self.spark.read.parquet(self.tgt), key_col="block_id")


def serving_mix(api: ServingAPI, key: str):
    return read_mix(api, key, 0, 2**62, 0.2, {"prediction": 1})


class StreamServe(Workload):
    NAME = NAME
    MIN_OPS = 2
    LAYER_METRICS = (
        "sources.scan_partitions", f"{NAME}.core_busy_ratio", "templates.self_s",
        "streaming.batch_ms", "streaming.add_batch_ms", "streaming.state_rows",
        "streaming.replay_drop_ratio", "streaming.upsert_write_amp", "streaming.table_files",
        "streaming.plan_executions", "serving.latest.p50_ms", "serving.by_key.p50_ms",
        "serving.time_range.p50_ms", "serving.high_score.p50_ms", "serving.stats.p50_ms",
        "serving.compound.p50_ms", "serving.jobs_per_read", f"{NAME}.jobs",
        f"{NAME}.py4j_calls", f"{NAME}.driver_build_s", f"{NAME}.executor_cpu_s",
        f"{NAME}.executor_run_s", f"{NAME}.gc_s", f"{NAME}.peak_rss_mb",
        f"{NAME}.trace_overhead_s",
    )

    def __init__(self, ctx: Context):
        super().__init__(ctx)
        self.steps = G.stream_steps(ctx.seed, *STEPS[ctx.size])
        self.next_step = 0
        self.landed: list[G.StreamStep] = []
        self.newest: dict[str, dict[str, int]] = {}
        self.ingest_s: list[float] = []
        self.bytes_in = 0

    def start(self, event_log: bool = False) -> Stream:
        """Set-up: session start, stream start and the first file through
        the stream (it has no replays or updates yet)."""
        spark = session(self.ctx, event_log)
        st = Stream(spark, os.path.join(self.ctx.work, "stream"))
        first = self.steps[0]
        last = st.query.lastProgress
        st.land(first.payload)
        st.query.processAllAvailable()
        st.wait_no_data_batch(last["batchId"] if last else -1)
        self.next_step, self.landed, self.newest = 1, [], {}
        self.record(first)
        return st

    def stop(self, st: Stream) -> None:
        st.query.stop()
        st.spark.stop()

    def record(self, step: G.StreamStep) -> None:
        """Note a landed step and the newest payload per key so far."""
        self.landed.append(step)
        for line in step.payload.splitlines():
            m = json.loads(line)
            # a replay repeats a payload already seen and an update is
            # newer than any earlier payload, so the last one seen per key
            # is its newest
            self.newest[m["block_id"]] = G.event_counts_of(m["log_full"])

    def has_next(self) -> bool:
        return self.next_step < len(self.steps)

    def op(self, st: Stream, tr: Tracer, i: int) -> float | None:
        """Land the next file, wait for the upsert, check that the newest
        key is visible. Returns the freshness: landing to the end of the
        micro-batch that read the file (from the query's progress), plus
        the visibility read.

        ``processAllAvailable()`` may return before or after the no-data
        micro-batch that follows (it evicts dedup state once the watermark
        has moved), so its return time is not used; the wait for that
        batch is left out of the freshness and out of every span."""
        step = self.steps[self.next_step]
        self.next_step += 1
        self.attempted += 1
        try:
            last = st.query.lastProgress["batchId"]
            with tr.span("op", "action"):
                t_land, path = st.land(step.payload)
                with tr.span("streaming.processAllAvailable", "action"):
                    st.query.processAllAvailable()
            st.wait_no_data_batch(last)
            t_up = st.data_batch_end(last)
            t_read = time.perf_counter()
            with tr.span("serving.visible", "action"):
                with tr.span("serving.visible.build"):
                    df = st.api().by_key(block_id=step.new_keys[-1])
                rows = df.collect()
            t_vis = time.perf_counter()
        except Exception:
            self.fail("stream step")
            return None
        self.record(step)
        if [r["block_id"] for r in rows] != [step.new_keys[-1]]:
            self.fail("stream step", [f"{step.new_keys[-1]} not visible after upsert"])
            return None
        self.ingest_s.append(t_up - t_land)
        self.bytes_in += os.path.getsize(path)
        return (t_up - t_land) + (t_vis - t_read)

    def reads(self, st: Stream, tr: Tracer) -> None:
        """The read rounds over the table the steps left, with the stream
        stopped: its idle triggers beside the reads would add their own
        noise to the read latencies."""
        st.query.stop()
        super().reads(st, tr)

    def read_mix(self, st: Stream):
        key = self.rng.choice(sorted(self.newest))
        return key, serving_mix(st.api(), key)

    def check_reads(self, st: Stream, key: str, res: dict) -> list[str]:
        bad = []
        if [r["block_id"] for r in res["by_key"]] != [key]:
            bad.append(f"by_key({key}) returned {len(res['by_key'])} rows")
        if res["stats"][0]["total"] != len(self.newest):
            bad.append(f"stats total={res['stats'][0]['total']} want {len(self.newest)}")
        return bad

    def check_table(self, st: Stream) -> list[str]:
        """Final upsert table: the newest payload per key, with its score."""
        want = self.newest
        rows = st.spark.read.parquet(st.tgt).collect()
        got = {r["block_id"]: r for r in rows}
        problems = []
        if len(rows) != len(got) or set(got) != set(want):
            problems.append(f"table has {len(rows)} rows / {len(got)} keys, want {len(want)} keys")
        for k, counts in want.items():
            r = got.get(k)
            if r is None:
                continue
            if [r[e] for e in G.EVENT_IDS] != [counts[e] for e in G.EVENT_IDS]:
                problems.append(f"{k}: counts are not those of its newest payload")
                break
            if abs(r["score"] - G.score(counts, WEIGHTS, BIAS)) > 1e-9:
                problems.append(f"{k}: score {r['score']} != {G.score(counts, WEIGHTS, BIAS)}")
                break
        return problems

    def dropped_replays(self, st: Stream) -> tuple[float, int, float]:
        """(replays dropped by the stream's dedup state, replays sent,
        executions of each micro-batch plan).

        The dedup operator's metrics add up over every execution of a
        micro-batch's plan (the upsert sink runs more than one action on
        the batch). Per execution, dropped + kept + late = the batch's
        input rows, so the execution count is (D + U + L) / input and the
        rows dropped once are D / that count."""
        dropped, execs = 0.0, []
        for p in st.query.recentProgress:
            n_in = p.get("numInputRows", 0)
            for op in p.get("stateOperators", []):
                d = int(op.get("customMetrics", {}).get("numDroppedDuplicateRows", 0))
                seen = d + op.get("numRowsUpdated", 0) + op.get("numRowsDroppedByWatermark", 0)
                if n_in and seen:
                    execs.append(seen / n_in)
                    dropped += d / execs[-1]
        return dropped, sum(s.n_replays for s in self.landed), median(execs)

    def finish(self, st: Stream) -> None:
        """Output checks outside the timed region; a mismatch counts as a
        failed operation."""
        self.attempted += 2
        bad = self.check_table(st)
        if bad:
            self.fail("upsert table", bad)
        dropped, sent, _ = self.dropped_replays(st)
        if round(dropped) != sent:
            self.fail("replay dedup", [f"{dropped} replays dropped of {sent} sent"])

    def run_traced(self) -> dict:
        """One session with the event log on; untraced and traced steps in
        turn, the read rounds, then the template self-time probe."""
        ctx = self.ctx
        st = self.start(event_log=True)
        tr = Tracer(True, "t", st.spark)
        first_batch = st.query.lastProgress["batchId"]
        t_start_ms = time.time() * 1e3
        before = tree_files(st.tgt, ".parquet")
        walls = self.loop(st, tr, 0, self.TRACED_OPS)
        after = tree_files(st.tgt, ".parquet")
        progress = [p for p in st.query.recentProgress
                    if p["batchId"] > first_batch and p.get("numInputRows", 0) > 0]
        dropped, sent, execs = self.dropped_replays(st)
        # numRowsTotal also adds up over the plan's executions
        state_rows = sum(op.get("numRowsTotal", 0)
                         for op in (st.query.lastProgress or {}).get("stateOperators", [])) / execs
        self.reads(st, tr)
        self.finish(st)
        probes = template_probe(st, tr)
        partitions = st.spark.read.schema(SESSION_MESSAGE).json(
            os.path.join(st.src, "part-00001.json")).rdd.getNumPartitions()
        rss = peak_rss_mb(st.spark)
        self.stop(st)
        tr.dump(os.path.join(ctx.work, "spans.jsonl"))
        log = read_event_log(os.path.join(ctx.work, "eventlog"))

        # the stream's own jobs run under its query's job group, not a span's
        stream = log.totals(lambda job: not (job.group or "").startswith("pb-")
                            and job.submit_ms >= t_start_ms)
        n_steps = max(1, len(walls["u"]) + len(walls["t"]))
        ingest = sum(self.ingest_s)
        written = sum(size for f, size in after.items() if before.get(f) != size)
        ops = tr.select("op") + tr.select("serving.visible")
        n = max(1, len(tr.select("op")))
        m = {
            "sources.scan_partitions": metric(partitions, "count"),
            f"{NAME}.core_busy_ratio": metric(
                stream["run_s"] / (ingest * ctx.cpus) if ingest else 0.0, "ratio"),
            "templates.self_s": metric(probes["tag"] - probes["none"], "s"),
            "streaming.batch_ms": metric(
                median(p["durationMs"]["triggerExecution"] for p in progress), "ms"),
            "streaming.add_batch_ms": metric(
                median(p["durationMs"]["addBatch"] for p in progress), "ms"),
            "streaming.state_rows": metric(state_rows, "count"),
            "streaming.replay_drop_ratio": metric(dropped / sent if sent else 0.0, "ratio"),
            "streaming.upsert_write_amp": metric(
                written / self.bytes_in if self.bytes_in else 0.0, "ratio"),
            "streaming.table_files": metric(len(after), "count"),
            "streaming.plan_executions": metric(execs, "count"),
            f"{NAME}.jobs": metric(stream["jobs"] / n_steps, "count"),
            f"{NAME}.py4j_calls": metric(sum(s["py4j"] for s in ops) / n, "count"),
            f"{NAME}.driver_build_s": metric(
                dur(s for s in tr.spans if s["kind"] == "build"
                    and s["name"].startswith("serving.visible")) / n, "s"),
            f"{NAME}.executor_cpu_s": metric(stream["cpu_s"] / n_steps, "s"),
            f"{NAME}.executor_run_s": metric(stream["run_s"] / n_steps, "s"),
            f"{NAME}.gc_s": metric(stream["gc_s"] / n_steps, "s"),
            f"{NAME}.peak_rss_mb": metric(rss, "MB"),
            f"{NAME}.trace_overhead_s": metric(median(walls["t"]) - median(walls["u"]), "s"),
        }
        m.update(self.serving_layer(tr, log, exclude=("serving.visible",)))
        return self.result(m)


def template_probe(st: Stream, tr: Tracer) -> dict[str, float]:
    """Self time of template tagging in the speed layer's per-message
    transform: ``message_features`` over every landed message with the
    29 templates, minus the same call with none (every line untagged).
    Each is run twice and the second run counts."""
    msgs = st.spark.read.schema(SESSION_MESSAGE).json(st.src)
    walls = {}
    for _ in range(2):
        for name, templates in (("none", []), ("tag", G.TEMPLATES)):
            with tr.span(f"probe.{name}", "action") as s:
                message_features(msgs, templates, G.EVENT_IDS).write.format("noop") \
                    .mode("overwrite").save()
            walls[name] = s["end"] - s["start"]
    return walls


WORKLOAD = StreamServe
