"""Run named registry queries to the noop sink in one warmed-up session.

Per query: the cold (first pass) and warm-min wall, and the Spark job
count of every pass. Each pass runs under its own job group and counts
that group's job IDs, so a claimed job or barrier cut can be checked
directly (``.explain`` cannot see job counts). Builders run for real;
some run jobs at plan-build time (dim-table collects, counts).

``--plans PATTERN`` writes the first pass's final
``explain("formatted")`` plan, captured before its write, to PATTERN
with ``{name}`` replaced by the query name: the before/after record of
a claimed plan change.

Usage:
    python tools/qrun.py [--passes 3] [--sf-dir DIR] \
        [--plans 'plans/{name}_after.txt'] name [name...]

Prints one JSON object (query -> cold, warm_min, walls, jobs) on stdout.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from log_analysis_bigdata_spark.catalog import DEFAULT_SF_DIR  # noqa: E402
from log_analysis_bigdata_spark.queries import all_queries  # noqa: E402
from log_analysis_bigdata_spark.session import get_spark  # noqa: E402


def warm_up(spark) -> None:
    """JVM and Python-worker warm-up outside any measured job group
    (the same warm-up as bench.py)."""
    from pyspark.sql.functions import col, pandas_udf

    spark.range(1000).count()
    _warm = pandas_udf(lambda s: s, "long")
    spark.range(1000).repartition(32).select(_warm(col("id"))).write.format(
        "noop"
    ).mode("overwrite").save()


def run_queries(
    spark,
    names: list[str],
    sf_dir: str,
    passes: int = 3,
    plans: str | None = None,
) -> dict[str, dict]:
    """Run each query ``passes`` times to the noop sink and return
    {name: {"cold", "warm_min", "walls", "jobs"}}. Walls cover build plus
    write; plan capture (``plans`` pattern, first pass only) is not
    timed."""
    registry = all_queries()
    sc = spark.sparkContext
    out = {}
    for name in names:
        walls, jobs = [], []
        for p in range(passes):
            group = f"qrun:{name}:{p}"
            sc.setJobGroup(group, name)
            t0 = time.perf_counter()
            df = registry[name].spark(spark, sf_dir)
            wall = time.perf_counter() - t0
            if plans and p == 0:
                plan = df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
                path = plans.format(name=name)
                os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
                with open(path, "w") as fh:
                    fh.write(plan if plan.endswith("\n") else plan + "\n")
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            walls.append(round(wall + time.perf_counter() - t0, 3))
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
            del df
            gc.collect()
        out[name] = {
            "cold": walls[0],
            "warm_min": min(walls[1:]) if len(walls) > 1 else walls[0],
            "walls": walls,
            "jobs": jobs,
        }
        print(name, out[name], file=sys.stderr)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    ap.add_argument("--plans", metavar="PATTERN",
                    help="write each query's plan to PATTERN.format(name=...)")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()
    unknown = sorted(set(args.names) - set(all_queries()))
    if unknown:
        ap.error(f"unknown queries: {', '.join(unknown)}")

    spark = get_spark(app_name="qrun")
    warm_up(spark)
    out = run_queries(spark, args.names, args.sf_dir, args.passes, args.plans)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
