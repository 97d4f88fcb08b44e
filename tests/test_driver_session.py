"""Pin the external-driver environment: queries must run on a SparkSession
the engine did NOT build.

The round-1 correctness harness passed its own ``SparkSession`` (no
``session.get_spark`` configs) and every query touching ``events.parquet``
(TIMESTAMP(NANOS)) crashed with PARQUET_TYPE_ILLEGAL, because the
``nanosAsLong`` conf lived only in the session factory. ``catalog.load_table``
now self-provisions the conf; these tests keep it that way.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap


from log_analysis_bigdata_spark.catalog import TABLES, load_table

SF = "/root/testdata/sf0.001"


def test_load_table_self_provisions_nanos_conf(spark):
    """Unset the conf (simulating a foreign session) — load_table must
    restore it and still read every table, including events."""
    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    try:
        for name in TABLES:
            df = load_table(spark, SF, name)
            assert df.count() >= 0
        assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
        ev = load_table(spark, SF, "events")
        assert dict(ev.dtypes)["ts"] == "timestamp"
    finally:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def test_load_table_pins_utc(spark):
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        load_table(spark, SF, "events")
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_bare_session_subprocess_runs_events_query():
    """Replicate the driver exactly: a fresh process, a bare
    ``SparkSession.builder.getOrCreate()``, one events-touching query."""
    script = textwrap.dedent(
        """
        import sys
        sys.path.insert(0, "/root/repo")
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[2]")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
        from log_analysis_bigdata_spark.queries import all_queries

        q = all_queries()["latest_record_per_key"]
        rows = q.spark(spark, "/root/testdata/sf0.001").count()
        assert rows > 0, rows
        print("OK", rows)
        """
    )
    env = dict(os.environ)
    res = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=300,
        env=env,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    assert "OK" in res.stdout


# --- catalog freshness guard (VERDICT r8 task 7) ---------------------------
# The driver verdicts only the FIRST 50 registry entries per round, so
# window rotation is evidence policy. These tests turn the policy from
# judge-enforced into CI-enforced: every registry entry's LATEST driver
# verdict (union of the committed CORRECTNESS_r*.json files) must be at
# most MAX_VERDICT_AGE rounds old, and any entry that would cross that
# age by the NEXT driver run must sit inside the current 50-slot window.

MAX_VERDICT_AGE = 4
DRIVER_WINDOW_SLOTS = 50

# Names that once had registry entries and still appear in committed
# CORRECTNESS_r*.json history but were RETIRED (r8: the three per-op
# set-operation queries merged into the single tagged-branch
# ``setops_nations``). Explicit so a recomputation of the verdict
# union resolves every historical name to exactly registry ∪ RETIRED
# (VERDICT r14 task 7).
RETIRED_QUERY_NAMES = {
    "setop_union_nations",
    "setop_intersect_nations",
    "setop_except_nations",
}


def _verdict_history():
    """name -> latest round with a PASSING driver verdict. Only passes
    count (code-review r9): a red verdict must not refresh the rotation
    clock, or a known-failing query could dodge forced re-rotation for
    MAX_VERDICT_AGE rounds. Passing = hash_match true, or (future
    rows-only entries, which the driver records without an oracle
    hash) no error + rows_match true."""
    import glob
    import json
    import re

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    latest: dict[str, int] = {}
    rounds = []
    for f in sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))):
        r = int(re.search(r"_r(\d+)\.json$", f).group(1))
        rounds.append(r)
        for name, v in json.load(open(f)).items():
            passed = v.get("hash_match") is True or (
                v.get("hash_match") is None
                and v.get("err") is None
                and v.get("rows_match") is True
            )
            if passed:
                latest[name] = max(latest.get(name, 0), r)
    assert rounds, "no committed CORRECTNESS_r*.json found"
    return latest, max(rounds)


def test_no_registry_verdict_older_than_max_age():
    from log_analysis_bigdata_spark.queries import all_queries

    latest, cur = _verdict_history()
    stale = {
        n: latest[n]
        for n in all_queries()
        if n in latest and cur - latest[n] > MAX_VERDICT_AGE
    }
    assert not stale, (
        f"registry entries with driver verdicts older than "
        f"{MAX_VERDICT_AGE} rounds (current=r{cur}): {stale} — rotate "
        "them into the _DRIVER_WINDOW head"
    )


def test_verdict_history_names_resolve_to_registry_or_retired():
    """Every name in the committed verdict history must be either a
    live registry entry or an explicitly documented retirement — a
    rename that silently orphans its history would otherwise read as
    a registry entry with no verdict (and its old name as noise in
    any recomputation of the union)."""
    from log_analysis_bigdata_spark.queries import all_queries

    latest, _ = _verdict_history()
    unexplained = set(latest) - set(all_queries()) - RETIRED_QUERY_NAMES
    assert not unexplained, (
        f"verdict-history names neither live nor retired: {unexplained}"
    )


def test_aging_and_new_entries_sit_inside_driver_window():
    """An entry that would EXCEED the age limit after the next driver
    run — or that has never been verdicted at all — must be inside the
    first 50 registry slots, or the next round bakes in a violation."""
    from log_analysis_bigdata_spark.queries import all_queries

    latest, cur = _verdict_history()
    window = list(all_queries())[:DRIVER_WINDOW_SLOTS]
    must_rotate = [
        n
        for n in all_queries()
        if n not in latest or (cur + 1) - latest.get(n, 0) > MAX_VERDICT_AGE
    ]
    missing = [n for n in must_rotate if n not in window]
    assert not missing, (
        f"entries needing a r{cur + 1} verdict but outside the 50-slot "
        f"driver window: {missing}"
    )
