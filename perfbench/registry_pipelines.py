"""Workload ``registry_pipelines``: the eight driver-bound pipelines of the
``queries`` registry (ROADMAP items 2-4) over a seeded star schema, and
the serving read mix over its ``events`` table.

One operation is one pass: each pipeline's DataFrame is built through
its registry entry (``spark_fn(spark, sf_dir)``, which may run eager
jobs of its own) and collected with ``toPandas()``, in an order the
seed permutes. The read rounds run between the pipelines (a warm-up
round after the first, a counted one after every second), so they
sample the host over the whole pass rather than over the few seconds
after it; the pass wall is the sum of the pipelines' walls. The untraced pass is the first in its session, as a
scheduled pipeline run is, so it includes the JIT and code-generation
work the pipelines' plans cause; the data is small, so the driver, its
Spark jobs and the Python workers do most of the work. Closed loop, one
client. After the pass every result is compared with the registry's
DuckDB oracle through ``tests/oracle_harness.py``, outside the timed
region.
"""

from __future__ import annotations

import datetime as dt
import os
import sys
import time

import star_gen
from common import (
    NOOP,
    Context,
    Tracer,
    Workload,
    dur,
    jvm_pid,
    metric,
    peak_rss_mb,
    python_worker_cpu_s,
    read_event_log,
    read_mix,
    session,
)

NAME = "registry_pipelines"
PIPELINES = (
    "corpus_to_training_set", "dedup_pipeline_docs", "dedup_survivors_by_quality",
    "ivfpq_knn_join", "pagerank_supplier_graph", "simhash_near_components",
    "per_user_model_fit", "semdedup_embedding_cells",
)
QUERY_METRICS = ("wall_s", "jobs", "outside_jobs_s", "py4j_calls", "python_worker_s")
QUERY_UNITS = {"wall_s": "s", "jobs": "count", "outside_jobs_s": "s", "py4j_calls": "count",
               "python_worker_s": "s"}
TS_LO, TS_HI = dt.datetime(2024, 1, 8), dt.datetime(2024, 1, 15)


class Registry:
    """One session and the star schema it reads."""

    def __init__(self, spark, sf_dir: str):
        from log_analysis_bigdata_spark.catalog import load_tables
        from log_analysis_bigdata_spark.serving import ServingAPI

        self.spark = spark
        self.sf_dir = sf_dir
        self.tables = load_tables(spark, sf_dir)
        self.api = ServingAPI(self.tables["events"], key_col="event_id", ts_col="ts",
                              score_col="value")


class RegistryPipelines(Workload):
    NAME = NAME
    LAYER_METRICS = tuple(f"queries.{q}.{m}" for q in PIPELINES for m in QUERY_METRICS) + (
        "serving.latest.p50_ms", "serving.by_key.p50_ms", "serving.time_range.p50_ms",
        "serving.high_score.p50_ms", "serving.stats.p50_ms", "serving.compound.p50_ms",
        "serving.jobs_per_read", f"{NAME}.jobs", f"{NAME}.py4j_calls", f"{NAME}.driver_build_s",
        f"{NAME}.executor_cpu_s", f"{NAME}.executor_run_s", f"{NAME}.gc_s",
        f"{NAME}.peak_rss_mb", f"{NAME}.trace_overhead_s",
    )

    def __init__(self, ctx: Context):
        super().__init__(ctx)
        from log_analysis_bigdata_spark.queries import all_queries

        self.registry = all_queries()
        self.results: dict[str, object] = {}  # the last result of each pipeline
        self.worker_s: dict[str, float] = {}

    def start(self, event_log: bool = False) -> Registry:
        """Set-up: session start, the seeded star schema written, and
        its tables loaded through the catalog."""
        spark = session(self.ctx, event_log)
        sf_dir = os.path.join(self.ctx.work, "sf")
        self.rows = star_gen.star_schema(self.ctx.seed, sf_dir, self.ctx.size)
        return Registry(spark, sf_dir)

    def stop(self, reg: Registry) -> None:
        reg.spark.stop()

    def op(self, reg: Registry, tr: Tracer, i: int) -> float | None:
        """One pass over the eight pipelines in the seed's order, with the
        read rounds between them. Returns the pass wall, or None when a
        pipeline raised."""
        walls = []
        for j, name in enumerate(self.rng.sample(PIPELINES, len(PIPELINES))):
            walls.append(self.pipeline(reg, tr, name))
            if j == 0 or j % 2:
                self.read_round(reg, tr, counted=j > 0)
        return None if None in walls else sum(walls)

    def reads(self, reg: Registry, tr: Tracer) -> None:
        """The read rounds run inside the pass (``op``)."""

    def pipeline(self, reg: Registry, tr: Tracer, name: str) -> float | None:
        """Build one pipeline through its registry entry and collect it.
        Returns its wall, or None when it raised."""
        self.attempted += 1
        jvm = jvm_pid(reg.spark) if tr.enabled else 0
        cpu0 = python_worker_cpu_s(jvm) if tr.enabled else 0.0
        try:
            t0 = time.perf_counter()
            with tr.span(f"queries.{name}", "action"):
                with tr.span(f"queries.{name}.build"):
                    df = self.registry[name].spark(reg.spark, reg.sf_dir)
                self.results[name] = df.toPandas()
            wall = time.perf_counter() - t0
        except Exception:
            self.results.pop(name, None)
            self.fail(name)
            return None
        if tr.enabled:
            self.worker_s[name] = python_worker_cpu_s(jvm) - cpu0
        return wall

    def read_mix(self, reg: Registry):
        key = self.rng.randrange(self.rows["events"])
        return key, read_mix(reg.api, key, TS_LO, TS_HI, 150.0,
                             {"keyword": "error", "text_col": "event_type"})

    def check_reads(self, reg: Registry, key: int, res: dict) -> list[str]:
        n = self.rows["events"]
        bad = []
        if [r["event_id"] for r in res["by_key"]] != [key]:
            bad.append(f"by_key({key}) returned {len(res['by_key'])} rows")
        if (res["stats"][0]["total"], res["stats"][0]["distinct_keys"]) != (n, n):
            bad.append(f"stats total={res['stats'][0]['total']} want {n}")
        if len(res["latest"]) != min(100, n):
            bad.append(f"latest returned {len(res['latest'])} rows")
        return bad

    def finish(self, reg: Registry) -> None:
        """Every result of the last pass against the registry's DuckDB
        oracle, with oracle_harness's strict compare. A mismatch counts as a
        failed operation."""
        sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "tests"))
        import oracle_harness as H

        con = H.duck_connection(reg.sf_dir)
        for name, got in self.results.items():
            try:
                want, _ = H.fetch_oracle_df(con, name, self.registry[name].oracle)
            except Exception:
                self.fail(f"{name} oracle")
                continue
            problems, _ = H.strict_compare_frames(got, want)
            if problems:
                self.fail(f"{name} output", problems)
        con.close()

    def run_traced(self) -> dict:
        """One session with the event log on: the first pass, with its read
        rounds, traced (the per-query metrics); then two more passes for
        the tracing overhead and the oracle check. In those two passes each
        pipeline runs untraced and traced back to back, the order turning
        from one pipeline to the next, so the warming of the session
        cancels in the overhead."""
        ctx = self.ctx
        reg = self.start(event_log=True)
        tr = Tracer(True, "t", reg.spark)
        first = self.op(reg, tr, 0)
        n_first = len(tr.spans)
        worker_s = dict(self.worker_s)
        again = {"u": 0.0, "t": 0.0}
        for j, name in enumerate(self.rng.sample(PIPELINES, len(PIPELINES))):
            for kind in ("ut" if j % 2 == 0 else "tu"):
                again[kind] += self.pipeline(reg, tr if kind == "t" else NOOP, name) or 0.0
        self.finish(reg)
        rss = peak_rss_mb(reg.spark)
        self.stop(reg)
        tr.dump(os.path.join(ctx.work, "spans.jsonl"))
        log = read_event_log(os.path.join(ctx.work, "eventlog"))

        queries = [s for s in tr.spans[:n_first]
                   if s["parent"] is None and s["name"].startswith("queries.")]
        spans = tr.under(queries)
        groups = tr.groups(spans)
        tot = log.totals(lambda job: job.group in groups)
        by_name = {s["name"].split(".", 1)[1]: s for s in queries}
        m = {}
        for name in PIPELINES:
            s = by_name.get(name)
            if s is None:  # the pipeline raised; counted as failed
                vals = dict.fromkeys(QUERY_METRICS, 0.0)
            else:
                mine = {tr.group(s)}
                busy = log.busy_s(lambda job: job.group in mine, s["start"], s["end"])
                vals = {"wall_s": s["end"] - s["start"],
                        "jobs": log.totals(lambda job: job.group in mine)["jobs"],
                        "outside_jobs_s": s["end"] - s["start"] - busy,
                        "py4j_calls": s["py4j"],
                        "python_worker_s": worker_s.get(name, 0.0)}
            for k, v in vals.items():
                m[f"queries.{name}.{k}"] = metric(v, QUERY_UNITS[k])
        m.update({
            f"{NAME}.jobs": metric(tot["jobs"], "count"),
            f"{NAME}.py4j_calls": metric(sum(s["py4j"] for s in queries), "count"),
            f"{NAME}.driver_build_s": metric(dur(s for s in spans if s["kind"] == "build"), "s"),
            f"{NAME}.executor_cpu_s": metric(tot["cpu_s"], "s"),
            f"{NAME}.executor_run_s": metric(tot["run_s"], "s"),
            f"{NAME}.gc_s": metric(tot["gc_s"], "s"),
            f"{NAME}.peak_rss_mb": metric(rss, "MB"),
            f"{NAME}.trace_overhead_s": metric(again["t"] - again["u"], "s"),
        })
        m.update(self.serving_layer(tr, log))
        print(f"[{NAME}] traced first pass {first}, then {again}", file=sys.stderr)
        return self.result(m)


WORKLOAD = RegistryPipelines
