"""Smoke test of the query-runner tool (tools/qrun.py): one registry
query through its per-query loop on the shared session."""

from __future__ import annotations

from tools.qrun import run_queries

from .conftest import SF_SMOKE


def test_qrun_reports_walls_jobs_and_writes_plan(spark, tmp_path):
    pattern = str(tmp_path / "{name}_plan.txt")
    out = run_queries(spark, ["parse_raw_logs"], SF_SMOKE, passes=2, plans=pattern)
    rec = out["parse_raw_logs"]
    assert len(rec["walls"]) == 2 and all(w > 0 for w in rec["walls"])
    assert rec["cold"] == rec["walls"][0]
    assert rec["warm_min"] == rec["walls"][1]
    assert len(rec["jobs"]) == 2 and all(j >= 1 for j in rec["jobs"])
    plan = (tmp_path / "parse_raw_logs_plan.txt").read_text()
    assert "== Physical Plan ==" in plan
