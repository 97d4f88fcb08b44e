"""Workload ``batch_hdfs``: the reference notebook's batch job end to end
on a seeded HDFS_v1-shaped raw log, then the serving read mix over the
session table it wrote (the batch view).

One operation is one whole batch job:
read_text_logs -> parse_log_lines -> tag_events (29 templates) ->
feature_counts_pivot / event_traces / sessionize + label_sessions ->
write the feature, trace and session tables -> index_labels ->
balanced_class_weights -> train_weighted_lr (library defaults) ->
evaluate_binary. The untraced run measures the first job in its
session, as a batch job submitted as its own application runs, so the
JIT and code-generation work of its plans is part of it. Closed loop,
one client: the next job starts when the previous one has finished and
its outputs have been checked.
"""

from __future__ import annotations

import os
import time
from collections import Counter

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
)
from pyspark.ml.feature import VectorAssembler
from pyspark.sql import functions as F
from pyspark.sql import types as T

from log_analysis_bigdata_spark.functions.logparse import clean_line, parse_log_lines
from log_analysis_bigdata_spark.functions.templates import tag_events
from log_analysis_bigdata_spark.ml.pipeline import (
    balanced_class_weights,
    evaluate_binary,
    index_labels,
    train_weighted_lr,
)
from log_analysis_bigdata_spark.operators.features import event_traces, feature_counts_pivot
from log_analysis_bigdata_spark.operators.sessionize import label_sessions, sessionize
from log_analysis_bigdata_spark.sources import read_csv_dim, read_text_logs

NAME = "batch_hdfs"
# blocks of 10-40 lines
BLOCKS = {"full": 40, "tiny": 12}
LABEL_SCHEMA = T.StructType([
    T.StructField("block_id", T.StringType()),
    T.StructField("label", T.StringType()),
])


def write_inputs(dir_: str, log: G.BatchLog, name: str) -> tuple[str, str]:
    os.makedirs(dir_, exist_ok=True)
    log_path = os.path.join(dir_, f"{name}.log")
    with open(log_path, "w") as fh:
        fh.write("\n".join(log.lines) + "\n")
    labels_path = os.path.join(dir_, f"{name}_labels.csv")
    with open(labels_path, "w") as fh:
        fh.write("block_id,label\n")
        fh.writelines(f"{b},{l}\n" for b, l in log.labels)
    return log_path, labels_path


def batch_job(spark, tr: Tracer, log_path: str, labels_path: str, out: str) -> tuple[dict, dict]:
    """The batch layer's job. Returns the written table paths and the
    evaluation metrics."""
    with tr.span("sources.read_text_logs"):
        raw = read_text_logs(spark, log_path)
    with tr.span("logparse.parse_log_lines"):
        parsed = parse_log_lines(raw)
    with tr.span("templates.tag_events"):
        tagged = tag_events(parsed, G.TEMPLATES)
    blk = tagged.filter(F.col("block_id").isNotNull())
    with tr.span("operators.feature_counts_pivot"):
        feats = feature_counts_pivot(blk, "block_id", "event_id", G.EVENT_IDS)
    with tr.span("operators.event_traces"):
        traces = event_traces(blk, "block_id", "datetime", "event_id")
    with tr.span("operators.sessionize"):
        sessions = sessionize(blk.withColumn("line", clean_line(blk)), "block_id",
                              "datetime", line_col="line")
    with tr.span("sources.read_csv_dim"):
        labels = read_csv_dim(spark, labels_path, LABEL_SCHEMA)
    with tr.span("operators.label_sessions"):
        labelled = label_sessions(sessions, labels, "block_id")

    paths = {k: os.path.join(out, k) for k in ("features", "traces", "sessions")}
    for key, df in (("features", feats), ("traces", traces), ("sessions", labelled)):
        with tr.span(f"write.{key}", "action"):
            df.write.mode("overwrite").parquet(paths[key])

    ds = spark.read.parquet(paths["features"]).join(labels, "block_id")
    with tr.span("ml.index_labels", "action"):  # fits the indexer
        ds = index_labels(ds, "label")
    ds = VectorAssembler(inputCols=G.EVENT_IDS, outputCol="features").transform(ds)
    with tr.span("ml.balanced_class_weights", "action"):  # counts classes
        train = balanced_class_weights(ds)
    with tr.span("ml.fit", "action"):
        model = train_weighted_lr(train)
    with tr.span("ml.eval", "action"):
        ev = evaluate_binary(model.transform(train))
    return paths, ev


def check_job(spark, paths: dict, ev: dict, truth: dict) -> list[str]:
    """Compare the written tables with the generator's truth."""
    problems = []
    got = {r["block_id"]: [r[e] for e in G.EVENT_IDS]
           for r in spark.read.parquet(paths["features"]).collect()}
    want = {b: [c[e] for e in G.EVENT_IDS] for b, c in truth["features"].items()}
    if got != want:
        bad = sorted(set(got) ^ set(want)) or [b for b in want if got.get(b) != want[b]]
        problems.append(f"feature counts differ for {len(bad)} blocks, e.g. {bad[:2]}")

    for r in spark.read.parquet(paths["traces"]).collect():
        c = Counter(r["event_seq"])
        if [c.get(e, 0) for e in G.EVENT_IDS] != want.get(r["block_id"]):
            problems.append(f"trace of {r['block_id']} disagrees with its counts")
            break

    fmt = "yyyy-MM-dd HH:mm:ss"
    rows = spark.read.parquet(paths["sessions"]).select(
        "block_id", F.date_format("start_ts", fmt).alias("s"),
        F.date_format("end_ts", fmt).alias("e"), "duration_sec", "num_lines",
        F.md5("log_full").alias("h"), "label").collect()
    got_s = {r["block_id"]: (r["s"], r["e"], r["duration_sec"], r["num_lines"], r["h"])
             for r in rows}
    want_s = {b: (s["start_ts"], s["end_ts"], s["duration_sec"], s["num_lines"],
                  s["log_full_md5"]) for b, s in truth["sessions"].items()}
    if got_s != want_s:
        bad = [b for b in want_s if got_s.get(b) != want_s[b]] or sorted(set(got_s) ^ set(want_s))
        problems.append(f"session rows differ for {len(bad)} blocks, e.g. {bad[:2]}")
    if {r["block_id"]: r["label"] for r in rows} != truth["labels"]:
        problems.append("label join differs from truth")
    for k in ("pr_auc", "f1"):
        if not 0.0 <= ev[k] <= 1.0:
            problems.append(f"{k}={ev[k]} out of [0, 1]")
    return problems


def check_reads(res: dict, key: str, truth: dict) -> list[str]:
    problems = []
    if [r["block_id"] for r in res["by_key"]] != [key]:
        problems.append(f"by_key({key}) returned {len(res['by_key'])} rows")
    stats = res["stats"][0]
    if (stats["total"], stats["distinct_keys"]) != (len(truth["sessions"]),) * 2:
        problems.append(f"stats total={stats['total']} want {len(truth['sessions'])}")
    if len(res["latest"]) != min(100, len(truth["sessions"])):
        problems.append(f"latest returned {len(res['latest'])} rows")
    return problems


def serving_mix(spark, sessions_path: str, key: str):
    from log_analysis_bigdata_spark.serving import ServingAPI

    api = ServingAPI(spark.read.parquet(sessions_path), key_col="block_id",
                     ts_col="end_ts", score_col="duration_sec")
    lo = G.BASE_TIME.replace(hour=23)
    hi = lo.replace(day=lo.day + 1)
    return read_mix(api, key, lo, hi, 60, {"keyword": "exception"})


class BatchHdfs(Workload):
    NAME = NAME
    LAYER_METRICS = (
        "sources.scan_partitions", f"{NAME}.core_busy_ratio", "logparse.self_s",
        "templates.self_s", "operators.features.self_s", "operators.traces.self_s",
        "operators.sessionize.self_s", "operators.shuffle_bytes", "ml.fit_s", "ml.fit_jobs",
        "ml.eval_s", "serving.latest.p50_ms", "serving.by_key.p50_ms",
        "serving.time_range.p50_ms", "serving.high_score.p50_ms", "serving.stats.p50_ms",
        "serving.compound.p50_ms", "serving.jobs_per_read", f"{NAME}.jobs",
        f"{NAME}.py4j_calls", f"{NAME}.driver_build_s", f"{NAME}.executor_cpu_s",
        f"{NAME}.executor_run_s", f"{NAME}.gc_s", f"{NAME}.peak_rss_mb",
        f"{NAME}.trace_overhead_s",
    )

    def __init__(self, ctx: Context):
        super().__init__(ctx)
        self.log = G.batch_log(ctx.seed, BLOCKS[ctx.size])
        self.keys = sorted(self.log.truth["sessions"])
        self.last_sessions = None

    def start(self, event_log: bool = False):
        """Set-up: session start and the log and label inputs written."""
        spark = session(self.ctx, event_log)
        self.paths = write_inputs(os.path.join(self.ctx.work, "in"), self.log, "hdfs")
        return spark

    def stop(self, spark) -> None:
        spark.stop()

    def op(self, spark, tr: Tracer, i: int) -> float | None:
        """One batch job plus its (untimed) output check. Returns the job
        wall, or None when the job raised."""
        self.attempted += 1
        out = os.path.join(self.ctx.work, f"out{i % 2}")
        try:
            t0 = time.perf_counter()
            with tr.span("op", "action"):
                paths, ev = batch_job(spark, tr, *self.paths, out)
            wall = time.perf_counter() - t0
        except Exception:
            self.fail("batch job")
            return None
        bad = check_job(spark, paths, ev, self.log.truth)
        if bad:
            self.fail("batch job output", bad)
        self.last_sessions = paths["sessions"]
        return wall

    def read_mix(self, spark):
        key = self.rng.choice(self.keys)
        return key, serving_mix(spark, self.last_sessions, key)

    def check_reads(self, spark, key: str, res: dict) -> list[str]:
        return check_reads(res, key, self.log.truth)

    def finish(self, spark) -> None:
        pass

    def run_traced(self) -> dict:
        """One session with the event log on: the first job traced (the
        per-layer metrics), then untraced, traced and untraced jobs for the
        tracing overhead, the read rounds and the self-time probes."""
        ctx = self.ctx
        spark = self.start(event_log=True)
        tr = Tracer(True, "t", spark)
        self.op(spark, tr, 0)
        first = list(tr.spans)
        walls = self.loop(spark, tr, 0, self.TRACED_OPS)
        self.reads(spark, tr)
        probes = self_time_probes(spark, tr, self.paths[0])
        rss = peak_rss_mb(spark)
        spark.stop()
        tr.dump(os.path.join(ctx.work, "spans.jsonl"))
        log = read_event_log(os.path.join(ctx.work, "eventlog"))
        m = self.layer_metrics(tr, first, log, walls, probes, rss)
        m.update(self.serving_layer(tr, log))
        return self.result(m)

    def layer_metrics(self, tr, first, log, walls, probes, rss) -> dict:
        """Per-layer metrics of the first (traced) job, whose spans are
        ``first``; the self times from the probes."""
        tot = log.totals(lambda job: job.group in tr.groups(first))
        op = first[0]
        op_wall = op["end"] - op["start"]

        def totals(spans):
            groups = tr.groups(spans)
            return log.totals(lambda job: job.group in groups)

        def wall(name):
            return dur(s for s in first if s["name"] == name)

        reads_probe = tr.select("probe.read")
        m = {
            "sources.scan_partitions": metric(totals(reads_probe)["tasks"]
                                              / max(1, len(reads_probe)), "count"),
            f"{NAME}.core_busy_ratio": metric(tot["run_s"] / (op_wall * self.ctx.cpus), "ratio"),
            "logparse.self_s": metric(probes["parse"] - probes["read"], "s"),
            "templates.self_s": metric(probes["tag"] - probes["parse"], "s"),
            "operators.features.self_s": metric(probes["features"] - probes["tag"], "s"),
            "operators.traces.self_s": metric(probes["traces"] - probes["tag"], "s"),
            "operators.sessionize.self_s": metric(probes["sessionize"] - probes["parse"], "s"),
            "operators.shuffle_bytes": metric(
                totals(s for s in first if s["name"].startswith("write."))["shuffle_bytes"],
                "bytes"),
            "ml.fit_s": metric(wall("ml.fit"), "s"),
            "ml.fit_jobs": metric(totals(s for s in first if s["name"] == "ml.fit")["jobs"],
                                  "count"),
            "ml.eval_s": metric(wall("ml.eval"), "s"),
            f"{NAME}.jobs": metric(tot["jobs"], "count"),
            f"{NAME}.py4j_calls": metric(op["py4j"], "count"),
            f"{NAME}.driver_build_s": metric(dur(s for s in first if s["kind"] == "build"), "s"),
            f"{NAME}.executor_cpu_s": metric(tot["cpu_s"], "s"),
            f"{NAME}.executor_run_s": metric(tot["run_s"], "s"),
            f"{NAME}.gc_s": metric(tot["gc_s"], "s"),
            f"{NAME}.peak_rss_mb": metric(rss, "MB"),
            f"{NAME}.trace_overhead_s": metric(median(walls["t"]) - median(walls["u"]), "s"),
        }
        return m


PROBES = ("read", "parse", "tag", "features", "traces", "sessionize")


def self_time_probes(spark, tr: Tracer, log_path: str) -> dict[str, float]:
    """Materialise each cumulative prefix of the job (parse, then
    parse+tag, ...) to the noop sink; a fused layer's self time is the
    difference between the prefix with and without it."""
    def prefix(name):
        raw = read_text_logs(spark, log_path)
        if name == "read":
            return raw
        parsed = parse_log_lines(raw)
        if name == "parse":
            return parsed
        if name == "sessionize":
            blk = parsed.filter(F.col("block_id").isNotNull())
            return sessionize(blk.withColumn("line", clean_line(blk)), "block_id",
                              "datetime", line_col="line")
        tagged = tag_events(parsed, G.TEMPLATES)
        if name == "tag":
            return tagged
        blk = tagged.filter(F.col("block_id").isNotNull())
        if name == "features":
            return feature_counts_pivot(blk, "block_id", "event_id", G.EVENT_IDS)
        return event_traces(blk, "block_id", "datetime", "event_id")

    walls = {}
    for name in PROBES:
        with tr.span(f"probe.{name}", "action") as s:
            prefix(name).write.format("noop").mode("overwrite").save()
        walls[name] = s["end"] - s["start"]
    return walls


WORKLOAD = BatchHdfs
