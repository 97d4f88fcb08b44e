"""Benchmark entry point.

    python3 perfbench/run.py --workload batch_hdfs|stream_serve|registry_pipelines \
        --seed N --seconds S --trace 0|1

Run from the checkout root. Each workload runs in its own worker
process (one SparkSession on local[nproc]) under a hard timeout; the
worker's whole process group, Spark's JVM included, is killed when the
timeout passes. All data, checkpoints and event logs go under
``.perfbench_run/`` in the checkout and are removed afterwards, except
the span file of a traced run, which is kept as
``.perfbench_run/spans-<workload>-<seed>.jsonl``.

Prints one JSON object as the last line of stdout and exits 0, or exits
non-zero without a result when the program or the worker fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TIMEOUT_S = 150


def nproc() -> int:
    """What ``nproc`` prints with OMP_NUM_THREADS unset: the CPUs this
    process may run on."""
    return len(os.sched_getaffinity(0))


def reap_group(pgid: int) -> None:
    """Kill whatever is left in the worker's process group (a JVM that
    outlived its Python parent) and wait until the group is empty."""
    deadline = time.monotonic() + 20
    try:
        os.killpg(pgid, signal.SIGKILL)
        while time.monotonic() < deadline:
            os.killpg(pgid, 0)
            time.sleep(0.05)
    except ProcessLookupError:
        pass


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full",
                    help="tiny: the smoke test's input sizes")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "log_analysis_bigdata_spark")):
        print("perfbench: log_analysis_bigdata_spark/ not found next to perfbench/",
              file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench_run")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{a.workload}-", dir=base)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    cpus = nproc()
    env = dict(os.environ)
    env.update({
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "PYTHONHASHSEED": "0",
        "TZ": "UTC",
        # every JVM (the launcher's and the driver's): temp files into the
        # run's dir, and no hsperfdata file under /tmp
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    })
    env.pop("OMP_NUM_THREADS", None)
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--work", work, "--size", a.size, "--cpus", str(cpus)]
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                            start_new_session=True, text=True)
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        print(f"perfbench: {a.workload} exceeded {TIMEOUT_S}s", file=sys.stderr)
        return 3
    finally:
        reap_group(proc.pid)
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            shutil.move(spans, os.path.join(base, f"spans-{a.workload}-{a.seed}.jsonl"))
        shutil.rmtree(work, ignore_errors=True)

    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(out)
        print(f"perfbench: worker exited with {proc.returncode}", file=sys.stderr)
        return 4
    result = json.loads(lines[-1])
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
