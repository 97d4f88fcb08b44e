"""Registry-wide physical-plan audit: every catalog query's plan is
scanned for the operators that do not survive 100 TB, and the findings
are written to PLAN_AUDIT.md (and asserted empty by
tests/test_plans.py::test_registry_wide_plan_audit_clean).

Flagged anti-patterns:
- ``CartesianProduct`` — quadratic row explosion; never acceptable.
- ``BatchEvalPython`` — row-at-a-time Python UDF; never acceptable
  (Arrow-batched ``ArrowEvalPython`` / ``FlatMapGroupsInPandas`` /
  ``FlatMapCoGroupsInPandas`` are the sanctioned Python paths and are
  reported as info, not violations).
- ``BroadcastNestedLoopJoin`` — acceptable ONLY when one side is a
  known scalar/1-row relation (a computed threshold, max, or query
  vector joined with no key). Those cases are allowlisted BY NAME with
  the reason; any other occurrence is a violation.

Usage: python tools/plan_audit.py [sf_dir]  (writes PLAN_AUDIT.md)
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# BroadcastNestedLoopJoin allowlist: query -> why the loop join is the
# RIGHT plan (the broadcast side is one row / a handful of rows, so the
# "nested loop" is a constant-time probe per stream row).
BNLJ_ALLOWED = {
    "q11_important_parts": "1-row scalar threshold (2*avg) cross join",
    "q15_top_supplier": "1-row scalar max cross join",
    "q22_dormant_customers": "1-row scalar avg-balance cross join",
    "scalar_subquery_last_order": "scalar subquery broadcast",
    "cosine_topk": "single query-vector broadcast against the corpus",
    "ivfpq_topk": (
        "single query-vector broadcast against the cell list (probe "
        "ranking), the nprobe-row probe list (query residuals) and the "
        "count-derived top-C re-rank set; the ADC candidate scan "
        "itself is a broadcast HASH join on (cell, sub, code)"
    ),
    "ivf_topk": (
        "1-row packed-centroid-table broadcast (in-row argmin "
        "assignment, r15) + single query-vector broadcast"
    ),
    "ivf_topk_nprobe": (
        "1-row packed-centroid-table broadcast (in-row argmin "
        "assignment, r15) + single query-vector broadcast into the "
        "probed cells"
    ),
    "ivfpq_knn_join": (
        "Q-row query block × ≤2^bits-row broadcast centroid table for "
        "per-query cell ranking — a Q×cells scalar product; every "
        "corpus-touching join (stacked ADC on (cell, sub, code), "
        "candidate re-rank on vec_id/query_id) is a broadcast HASH join"
    ),
    "knn_join_topk": "small query-set broadcast, keyless by design",
    "ivfpq_index_append": (
        "historical: the keyless vectors×centroid-table assignment "
        "products (r16 moved the assign argmin into an Arrow-batched "
        "BLAS mapInPandas, so these BNLJs no longer appear; the entry "
        "stays as documentation of the acceptable fallback shape); "
        "the history code table is only partial-agg counted, never "
        "joined"
    ),
    "hard_negatives_per_query": (
        "20-row anchor-set broadcast; the label<>label condition is "
        "deliberately keyless (every different-label pair scores) — "
        "constant-time probe per corpus row"
    ),
    "ml_lr_train_confusion": "1-row learned-coefficients cross join",
    "constant_columns_detect": "1-row per-column-stats cross join",
    "tfidf_top_terms": "1-row corpus-size (N) cross join for idf",
    "bigram_logprob_docs": (
        "1-row vocabulary-size (V) cross join for Laplace smoothing"
    ),
    "embedding_covariance_topk": (
        "1-row corpus-count (n) cross join into the d^2/2-row "
        "pair-sum table"
    ),
    "bm25_search_docs": "1-row corpus-stats (N, avgdl) cross join",
    "mixture_temperature_sample": (
        "1-row mixture totals (Σw_e4, token budget) cross join into "
        "the #sources-row rate table; the corpus side is a broadcast "
        "HASH join on source"
    ),
    "langid_ngram_predict": (
        "1-row broadcast of the 5 pivoted language-profile trigram "
        "arrays; scoring is a narrow per-row array_intersect, no "
        "corpus shuffle"
    ),
}

ARROW_NODES = (
    "ArrowEvalPython",  # also matches ArrowEvalPythonUDTF (udtf surface)
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "MapInPandas",
    "MapInArrow",
)


def audit_plan(name: str, plan: str) -> tuple[list[str], dict[str, int]]:
    """Return (violations, info_counts) for one formatted plan."""
    violations = []
    if "CartesianProduct" in plan:
        violations.append("CartesianProduct")
    if "BatchEvalPython" in plan:
        violations.append("BatchEvalPython (row-at-a-time Python)")
    if "BroadcastNestedLoopJoin" in plan and name not in BNLJ_ALLOWED:
        violations.append("BroadcastNestedLoopJoin (not allowlisted)")
    info = {
        "exchanges": len(re.findall(r"\(\d+\) Exchange", plan)),
        "bhj": plan.count("BroadcastHashJoin"),
        "smj": plan.count("SortMergeJoin"),
        "arrow": sum(plan.count(n) for n in ARROW_NODES),
    }
    return violations, info


def main() -> int:
    from log_analysis_bigdata_spark.queries import all_queries
    from log_analysis_bigdata_spark.session import get_spark

    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(app_name="plan_audit")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    rows, n_violations = [], 0
    for name, qd in all_queries().items():
        try:
            df = qd.spark(spark, sf)
            plan = df._jdf.queryExecution().explainString(mode)
        except Exception as e:  # noqa: BLE001
            rows.append((name, [f"PLAN BUILD FAILED: {type(e).__name__}"], {}))
            n_violations += 1
            continue
        violations, info = audit_plan(name, plan)
        n_violations += len(violations)
        rows.append((name, violations, info))

    out = ["# Plan audit — every catalog query, anti-pattern scan", ""]
    out.append(
        "Generated by `tools/plan_audit.py`; asserted clean by "
        "`tests/test_plans.py::test_registry_wide_plan_audit_clean`."
    )
    out.append("")
    out.append("| query | exchanges | broadcast joins | sort-merge joins | arrow nodes | violations |")
    out.append("|---|---|---|---|---|---|")
    for name, violations, info in rows:
        v = "; ".join(violations) if violations else "—"
        out.append(
            f"| {name} | {info.get('exchanges', '?')} | {info.get('bhj', '?')} "
            f"| {info.get('smj', '?')} | {info.get('arrow', '?')} | {v} |"
        )
    out.append("")
    out.append("## BroadcastNestedLoopJoin allowlist")
    out.append("")
    for q, why in BNLJ_ALLOWED.items():
        out.append(f"- `{q}`: {why}")
    out.append("")
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLAN_AUDIT.md")
    with open(path, "w") as f:
        f.write("\n".join(out))
    print(f"{len(rows)} plans audited, {n_violations} violations -> {path}")
    return 1 if n_violations else 0


if __name__ == "__main__":
    raise SystemExit(main())
