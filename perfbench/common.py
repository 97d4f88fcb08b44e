"""Shared pieces of the benchmark workers: the session factory, the
workload runner (set-ups, closed loop, serving read mix, result), the
in-memory span tracer, the py4j round-trip counter, the Spark event-log
reader and small statistics helpers.

Spans are recorded only around calls the benchmark itself makes into
the program (a build span around each public call that returns a lazy
DataFrame, an action span around each write, collect, fit or
``processAllAvailable``); nothing inside the program is instrumented.
"""

from __future__ import annotations

import glob
import json
import math
import os
import random
import resource
import statistics
import sys
import time
import traceback
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

IDLE_GROUP = "pb-idle"
# read rounds after the operations, each the six reads; the first warms
# the read path (JIT) and is not counted
READ_ROUNDS = 4
READS = ("latest", "by_key", "time_range", "high_score", "stats", "compound")


@dataclass
class Context:
    work: str        # scratch dir for this run; removed by run.py
    seed: int
    seconds: float
    trace: bool
    size: str        # "full" or "tiny" (the smoke test)
    cpus: int


def session(ctx: Context, event_log: bool = False):
    """One SparkSession on local[cpus] through the library's factory.
    Every file Spark writes lands under the run's scratch dir."""
    from log_analysis_bigdata_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(ctx.work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(ctx.work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # keep every micro-batch's progress for the replay-drop count
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }
    if event_log:
        log_dir = os.path.join(ctx.work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            # Spark 4 compresses with zstd by default; zstandard is not
            # installed for the reader below
            "spark.eventLog.compress": "false",
        })
    else:
        conf["spark.eventLog.enabled"] = "false"
    return get_spark(app_name="perfbench", master=f"local[{ctx.cpus}]",
                     shuffle_partitions=ctx.cpus, extra_conf=conf)


# --- the serving read mix ------------------------------------------------


def read_mix(api, key, ts_lo, ts_hi, threshold, compound_kw: dict) -> list:
    """ServingAPI Q1-Q5 and Q7 (Q6 ``delete_keys`` rewrites the table
    rather than reading it): [(read name, zero-arg builder)] in the fixed
    mix order."""
    return [
        ("latest", lambda: api.latest(100)),
        ("by_key", lambda: api.by_key(**{api.key: key})),
        ("time_range", lambda: api.time_range(ts_lo, ts_hi)),
        ("high_score", lambda: api.high_score(threshold)),
        ("stats", lambda: api.stats()),
        ("compound", lambda: api.compound(ts_lo=ts_lo, ts_hi=ts_hi, **compound_kw)),
    ]


def run_reads(tr: Tracer, mix: list, lat: dict[str, list[float]]) -> dict:
    """Issue the mix once, each read built through ServingAPI and then
    collected; append each read's wall (ms) to ``lat[name]``. Returns
    each read's rows."""
    out = {}
    for name, build in mix:
        t0 = time.perf_counter()
        with tr.span(f"serving.{name}", "action"):
            with tr.span(f"serving.{name}.build"):
                df = build()
            rows = df.collect()
        lat.setdefault(name, []).append((time.perf_counter() - t0) * 1e3)
        out[name] = rows
    return out


def serve_p50_ms(lat: dict[str, list[float]]) -> float:
    """Geometric mean of the six reads' median latencies. Pooling the
    samples instead would put the median between the clusters of cheap
    and costly reads, where it jumps from run to run."""
    meds = [median(lat[name]) for name in READS if lat.get(name)]
    return math.exp(sum(map(math.log, meds)) / len(meds)) if meds else 0.0


# --- the workload runner -------------------------------------------------


class Workload:
    """One workload: a closed loop with one client. The next operation
    starts when the previous one has returned and been checked.

    A subclass sets NAME, MIN_OPS and LAYER_METRICS (the per-layer
    metrics its traced run must report) and implements ``start`` (the
    set-up; returns the state the loop runs on), ``stop``,
    ``op`` (one operation; returns its wall or None when it failed),
    ``read_mix`` / ``check_reads`` (one serving read round and its
    check), ``finish`` (output checks at the end of the loop) and
    ``run_traced``."""

    NAME = ""
    MIN_OPS = 1      # operations per untraced run, even past --seconds
    TRACED_OPS = 3   # operations per traced run: untraced, traced, untraced
    LAYER_METRICS: tuple[str, ...] = ()

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.rng = random.Random(ctx.seed)
        self.attempted = self.failed = 0
        self.lat: dict[str, list[float]] = {}

    def fail(self, what: str, problems: list[str] | None = None) -> None:
        """Count a failed operation and report it on stderr."""
        self.failed += 1
        if problems is None:
            traceback.print_exc(file=sys.stderr)
            problems = [f"{what} raised"]
        print(f"[{self.NAME}] {what}: {problems}", file=sys.stderr)

    def result(self, metrics: dict) -> dict:
        return {"correct": self.failed == 0,
                "attempted": self.attempted, "failed": self.failed, "metrics": metrics}

    def has_next(self) -> bool:
        return True

    def loop(self, state, tr: Tracer, seconds: float, min_ops: int) -> dict[str, list[float]]:
        """Operations for ``seconds``, at least ``min_ops``. With an
        enabled tracer, operations alternate untraced ("u") and traced
        ("t"). Returns the operation walls per kind."""
        walls: dict[str, list[float]] = {"u": [], "t": []}
        t_end, i = time.perf_counter() + seconds, 0
        while (i < min_ops or time.perf_counter() < t_end) and self.has_next():
            traced = tr.enabled and traced_op(i)
            w = self.op(state, tr if traced else NOOP, i)
            if w is not None:
                walls["t" if traced else "u"].append(w)
            i += 1
        return walls

    def reads(self, state, tr: Tracer) -> None:
        """One uncounted warm-up round, then READ_ROUNDS counted ones."""
        for i in range(READ_ROUNDS + 1):
            self.read_round(state, tr, counted=i > 0)

    def read_round(self, state, tr: Tracer, counted: bool) -> None:
        """One round of the read mix with a seeded key, checked."""
        key, mix = self.read_mix(state)
        self.attempted += len(mix)
        try:
            res = run_reads(tr, mix, self.lat if counted else {})
        except Exception:
            self.fail("serving read")
            return
        bad = self.check_reads(state, key, res)
        if bad:
            self.fail("serving read output", bad)

    def run(self) -> dict:
        if self.ctx.trace:
            return self.run_traced()
        # one set-up a run: the JVM launch is most of it and happens once a
        # process; a second set-up in the same JVM only restarts the
        # session (~0.2 s, half of it noise)
        t0 = time.perf_counter()
        state = self.start()
        t1 = time.perf_counter()
        walls = self.loop(state, NOOP, self.ctx.seconds, self.MIN_OPS)["u"]
        t2 = time.perf_counter()
        self.reads(state, NOOP)
        t3 = time.perf_counter()
        self.finish(state)
        self.stop(state)
        print(f"[{self.NAME}] setup {t1 - t0:.2f}s "
              f"ops {[round(x, 2) for x in walls]} ({t2 - t1:.1f}s) "
              f"reads {t3 - t2:.1f}s, {sum(map(len, self.lat.values()))} counted",
              file=sys.stderr)
        return self.result({
            "setup_s": metric(t1 - t0, "s"),
            "op_p50_s": metric(median(walls), "s"),
            "serve_p50_ms": metric(serve_p50_ms(self.lat), "ms"),
        })

    def serving_layer(self, tr: Tracer, log: EventLog, exclude: tuple[str, ...] = ()) -> dict:
        """``serving.<read>.p50_ms`` and ``serving.jobs_per_read``."""
        reads = [s for s in tr.select("serving.", "action")
                 if s["name"].count(".") == 1 and s["name"] not in exclude]
        groups = {tr.group(s) for s in reads}
        m = {"serving.jobs_per_read": metric(
            log.totals(lambda job: job.group in groups)["jobs"] / max(1, len(reads)), "count")}
        for name in READS:
            m[f"serving.{name}.p50_ms"] = metric(median(self.lat.get(name, [])), "ms")
        return m


# --- tracing -------------------------------------------------------------


class Tracer:
    """In-memory spans with name, start, end, parent and run id.

    Action spans put their jobs in a job group of their own, so the event
    log can attribute executor time to them. A disabled tracer records
    nothing and touches no Spark state."""

    def __init__(self, enabled: bool, run_id: str, spark=None):
        self.enabled = enabled
        self.run_id = run_id
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.py4j_calls = 0
        if enabled and spark is not None:
            self._count_py4j(spark)
            spark.sparkContext.setJobGroup(IDLE_GROUP, "outside any action span")

    def _count_py4j(self, spark) -> None:
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command

        def counting(*args, **kwargs):
            self.py4j_calls += 1
            return send(*args, **kwargs)

        client.send_command = counting

    @contextmanager
    def span(self, name: str, kind: str = "build"):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "kind": kind,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "run": self.run_id,
            "start": time.time(),
            "end": None,
            "py4j": -self.py4j_calls,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        sc = self.spark.sparkContext if self.spark is not None else None
        if kind == "action" and sc is not None:
            sc.setJobGroup(self.group(rec), name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if kind == "action" and sc is not None:
                outer = next((s for s in reversed(self._stack) if s["kind"] == "action"), None)
                sc.setJobGroup(self.group(outer) if outer else IDLE_GROUP, "")
            rec["py4j"] += self.py4j_calls

    def group(self, rec: dict) -> str:
        return f"pb-{self.run_id}-{rec['id']}"

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")

    def select(self, name: str, kind: str | None = None) -> list[dict]:
        """Spans called ``name``, or under it when ``name`` ends in '.'."""
        return [s for s in self.spans
                if (s["name"] == name or name.endswith(".") and s["name"].startswith(name))
                and (kind is None or s["kind"] == kind)]

    def under(self, roots: list[dict]) -> list[dict]:
        """The spans that are, or descend from, one of ``roots``."""
        by_id = {s["id"]: s for s in self.spans}
        root_ids = {s["id"] for s in roots}
        out = []
        for s in self.spans:
            p = s
            while p is not None and p["id"] not in root_ids:
                p = by_id.get(p["parent"])
            if p is not None:
                out.append(s)
        return out

    def groups(self, spans) -> set[str]:
        """The job groups of the action spans among ``spans``."""
        return {self.group(s) for s in spans if s["kind"] == "action"}


NOOP = Tracer(False, "untraced")


def traced_op(i: int) -> bool:
    """Whether operation ``i`` of a traced run is traced: U T U T U ...
    With an odd count the untraced operations frame the traced ones, so a
    linear drift over the run cancels in the traced-minus-untraced
    overhead."""
    return i % 2 == 1


def dur(spans) -> float:
    return sum(s["end"] - s["start"] for s in spans)


# --- Spark event log -----------------------------------------------------


@dataclass
class JobStats:
    group: str | None
    stages: list[int]
    submit_ms: int = 0
    end_ms: int = 0


@dataclass
class EventLog:
    jobs: dict[int, JobStats] = field(default_factory=dict)
    stages: dict[int, dict] = field(default_factory=dict)

    def stage_owner(self) -> dict[int, int]:
        """Stage id -> the lowest job id that lists it (a reused shuffle
        stage runs once, under its first job)."""
        owner: dict[int, int] = {}
        for jid in sorted(self.jobs):
            for sid in self.jobs[jid].stages:
                owner.setdefault(sid, jid)
        return owner

    def totals(self, match) -> dict[str, float]:
        """Jobs and executor totals of the jobs for which ``match(job)``
        holds."""
        jids = {j for j, st in self.jobs.items() if match(st)}
        owner = self.stage_owner()
        out = {"jobs": len(jids), "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
               "shuffle_bytes": 0, "tasks": 0}
        for sid, st in self.stages.items():
            if owner.get(sid) in jids:
                out["run_s"] += st["run_ms"] / 1e3
                out["cpu_s"] += st["cpu_ns"] / 1e9
                out["gc_s"] += st["gc_ms"] / 1e3
                out["shuffle_bytes"] += st["shuffle_write"]
                out["tasks"] += st["tasks"]
        return out

    def busy_s(self, match, lo: float, hi: float) -> float:
        """Seconds of [lo, hi] (epoch seconds) during which at least one
        matching job was running."""
        spans = sorted((max(lo, j.submit_ms / 1e3), min(hi, j.end_ms / 1e3))
                       for j in self.jobs.values() if match(j) and j.end_ms)
        busy, reach = 0.0, lo
        for a, b in spans:
            a = max(a, reach)
            if b > a:
                busy += b - a
                reach = b
        return busy


_ACC = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write",
}


def read_event_log(log_dir: str) -> EventLog:
    """Parse every uncompressed event-log file under ``log_dir``."""
    log = EventLog()
    paths = [p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
             if os.path.isfile(p)]
    for path in sorted(paths):
        with open(path) as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue  # a torn last line of a log still being written
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    log.jobs[ev["Job ID"]] = JobStats(
                        props.get("spark.jobGroup.id"), ev.get("Stage IDs", []),
                        ev.get("Submission Time", 0))
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in log.jobs:
                    log.jobs[ev["Job ID"]].end_ms = ev.get("Completion Time", 0)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = {v: 0 for v in _ACC.values()}
                    for acc in info.get("Accumulables", []):
                        key = _ACC.get(acc.get("Name"))
                        if key:
                            st[key] = int(acc.get("Value", 0))
                    st["tasks"] = info.get("Number of Tasks", 0)
                    log.stages[info["Stage ID"]] = st
    return log


# --- process statistics --------------------------------------------------


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(spark) -> float:
    """Driver JVM high-water RSS plus this Python process's."""
    py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    jvm = 0.0
    try:
        with open(f"/proc/{jvm_pid(spark)}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm = int(line.split()[1]) / 1024
    except OSError:
        pass
    return py + jvm


def python_worker_cpu_s(jvm: int) -> float:
    """CPU seconds used so far by the processes the JVM started: the
    PySpark daemon and its forked Python workers, with the workers it
    has already reaped."""
    procs: dict[int, tuple[int, int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        f = stat[stat.rfind(")") + 2:].split()
        # ppid, then utime + stime + cutime + cstime (fields 14-17)
        procs[int(d)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    children = defaultdict(list)
    for pid, (ppid, _) in procs.items():
        children[ppid].append(pid)
    ticks, todo = 0, list(children[jvm])
    while todo:
        pid = todo.pop()
        ticks += procs[pid][1]
        todo.extend(children[pid])
    return ticks / os.sysconf("SC_CLK_TCK")


# --- small helpers -------------------------------------------------------


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def tree_files(path: str, suffix: str = "") -> dict[str, int]:
    """{relative file path: size} under ``path``."""
    out = {}
    for dirpath, _, files in os.walk(path):
        for f in files:
            if f.endswith(suffix):
                p = os.path.join(dirpath, f)
                out[os.path.relpath(p, path)] = os.path.getsize(p)
    return out


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}
