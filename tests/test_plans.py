"""Physical-plan regression tests: the scale-critical plan properties
asserted from explain output, so a future edit can't silently trade a
broadcast for a sort-merge shuffle or un-push a filter.

These are the local-mode proxies for 100 TB behavior: a plan that
broadcasts dims, prunes columns, and pushes predicates here compiles to
the same strategy on a 1000-executor cluster (modulo AQE runtime
re-planning, which only improves on the static plan).
"""

from __future__ import annotations

import pytest

from log_analysis_bigdata_spark.queries import all_queries

from .conftest import SF_SMOKE


def _plan(spark, name: str) -> str:
    df = all_queries()[name].spark(spark, SF_SMOKE)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_q5_dims_broadcast_no_sort_merge(spark):
    plan = _plan(spark, "q5_revenue_by_nation")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q6_filters_pushed_and_columns_pruned(spark):
    plan = _plan(spark, "q6_forecast_revenue")
    assert "GreaterThanOrEqual(l_shipdate" in plan  # pushed range predicate
    assert "LessThan(l_shipdate" in plan
    # projection pruned to the 4 referenced columns
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert read.count(":") <= 5 and "l_extendedprice" in read
    assert "l_orderkey" not in read


def test_serving_latest_n_is_topk(spark):
    plan = _plan(spark, "serving_latest_n")
    assert "TakeOrderedAndProject" in plan  # not global sort + limit
    assert "Exchange" not in plan.split("TakeOrderedAndProject")[0]


def test_topk_orders_is_topk(spark):
    plan = _plan(spark, "topk_orders_by_price")
    assert "TakeOrderedAndProject" in plan


def test_q4_semi_join_with_pushed_date_filter(spark):
    plan = _plan(spark, "q4_priority_exists")
    assert "LeftSemi" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan


def test_exact_dedup_partial_aggregation(spark):
    """The dedup groupBy must partial-aggregate map-side (two
    HashAggregate nodes around one Exchange), not shuffle raw rows."""
    plan = _plan(spark, "dedup_exact_docs")
    before_exchange = plan.split("Exchange")[-1]
    assert "HashAggregate" in before_exchange


def test_scalar_pipeline_stays_in_codegen(spark):
    """parse_raw_logs (regex extraction) must be one WholeStageCodegen
    span over the scan — no Python, no extra exchanges."""
    plan = _plan(spark, "parse_raw_logs")
    assert "codegen id" in plan  # formatted mode marks codegen spans per node
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange" not in plan  # narrow: parse is shuffle-free


def test_lsh_joins_are_hash_equi_not_cartesian(spark):
    """Every LSH candidate join (minhash bands, near-dup bands) must be
    an equi-join on the bucket key — a cartesian/nested-loop here is the
    quadratic blowup the whole design avoids."""
    for name in ("minhash_dup_pairs", "embedding_near_dup"):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_ivf_centroids_broadcast(spark):
    plan = _plan(spark, "ivf_topk")
    assert "BroadcastHashJoin" in plan  # centroid + query side broadcast
    assert "CartesianProduct" not in plan


def test_kmeans_assigns_with_shared_blas_kernel(spark):
    """k-means assignment runs through the one nearest-centroid kernel
    (vectorq._assign_cells, a MapInArrow over the corpus scan), not an
    in-row argmin over a cross-joined one-row centroid table."""
    plan = _plan(spark, "kmeans_step_shift")
    assert "MapInArrow" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ivfpq_codebook_and_adc_broadcast(spark):
    """IVF-PQ's scale contract: the centroids (≤256×64 rows), residual
    codebook (≤1 024 rows), probe list and ADC table all broadcast —
    the corpus never shuffles against any of them — both the candidate
    cut and the final re-rank are top-k (TakeOrderedAndProject), not
    global sorts, and since r11 the corpus-sized frames never meet in
    a SortMergeJoin (cell rides through the encode path instead of
    joining codes back to the assignment; the C-row candidate set
    broadcasts into the re-rank)."""
    plan = _plan(spark, "ivfpq_topk")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan


def test_ivfpq_knn_join_plan_shape(spark):
    """The batched retrieval contract (round 12): the code index is
    scanned once against the BROADCAST stacked ADC table (hash join on
    cell/sub/code), the Q×C candidate set and query block broadcast
    into the re-rank, and NOTHING corpus-sized meets a SortMergeJoin
    or a CartesianProduct. The only nested-loop join is the Q×cells
    probe-ranking product (allowlisted in tools/plan_audit.py); the
    per-query cuts are windows over candidates, so the q-keyed
    shuffles carry Q×C rows, never the corpus."""
    plan = _plan(spark, "ivfpq_knn_join")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    # Q×cells probe ranking is the one expected BNLJ (count node
    # headers — formatted explain prints each node in the tree AND in
    # the detail section)
    import re

    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) <= 1


def test_ivfpq_index_append_plan_shape(spark):
    """The incremental-ingest contract (round 14): appending a batch to
    the frozen index must be O(batch) — every join broadcasts
    index-sized tables (centroids, codebook, the per-cell count),
    nothing corpus-sized meets a SortMergeJoin or CartesianProduct,
    and the history code table is touched only by a partial-aggregated
    per-cell count (never joined, never re-encoded). The two expected
    BroadcastNestedLoopJoins are the keyless vectors×centroid-table
    assignment products (history train + new-batch assign), allowlisted
    in tools/plan_audit.py."""
    plan = _plan(spark, "ivfpq_index_append")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    import re

    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) <= 2


def test_cosine_topk_broadcast_and_topk(spark):
    """One-row query side must broadcast (the brute-force scan stays a
    narrow map) and the final ordering is top-k, not a global sort."""
    plan = _plan(spark, "cosine_topk")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_salted_agg_two_stage(spark):
    """Salted aggregation = two HashAggregate pairs (partial+final per
    stage); the point is the first shuffle is on (key, salt)."""
    plan = _plan(spark, "salted_event_type_stats")
    assert plan.count("HashAggregate") >= 4


def test_pandas_queries_are_arrow_not_batch_python(spark):
    """Python stages must be Arrow-vectorized (ArrowEvalPython /
    mapInPandas / FlatMapGroupsInPandas), never row-pickling
    BatchEvalPython."""
    for name in (
        "ml_score_embeddings",
        "grouped_zscore_events",
        "grouped_agg_weighted_mean",
        "per_user_model_fit",
        "multimodal_byte_stats",
    ):
        plan = _plan(spark, name)
        assert "BatchEvalPython" not in plan, name


def test_q8_dims_broadcast(spark):
    plan = _plan(spark, "q8_market_share")
    assert "BroadcastHashJoin" in plan  # nation/region sides


def test_q18_semi_join_no_explosion(spark):
    plan = _plan(spark, "q18_large_orders")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_pii_redaction_stays_in_codegen(spark):
    """PII redact is regexp_* column expressions only — any Python
    fallback would show up as BatchEvalPython/ArrowEvalPython."""
    plan = _plan(spark, "pii_redact_docs")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "codegen id" in plan  # formatted mode's whole-stage-codegen marker


def test_bucketed_join_eliminates_shuffle(spark, tmp_path):
    """The 100 TB co-location story: two tables bucketed on the join key
    into the same bucket count join WITHOUT any Exchange — each task zips
    bucket i with bucket i. The unbucketed control plan shuffles both
    sides. (Broadcast is disabled so the shuffle-vs-bucket contrast is
    what's measured.)"""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS buckdb LOCATION '{tmp_path}'")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        facts = spark.range(0, 10000).selectExpr("id AS k", "id % 97 AS v")
        dims = spark.range(0, 1000).selectExpr("id AS k", "id * 2 AS w")
        for name, df in (("facts_b", facts), ("dims_b", dims)):
            (
                df.write.mode("overwrite")
                .bucketBy(8, "k")
                .sortBy("k")
                .saveAsTable(f"buckdb.{name}")
            )
        joined = spark.table("buckdb.facts_b").join(
            spark.table("buckdb.dims_b"), "k"
        )
        plan = joined._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert "Exchange" not in plan  # bucket co-location, no shuffle
        assert "SortMergeJoin" in plan
        assert joined.count() == 1000

        control = facts.join(dims, "k")
        cplan = control._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert "Exchange" in cplan  # unbucketed twin must shuffle
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP DATABASE IF EXISTS buckdb CASCADE")


def test_q21_semi_anti_self_joins_no_cartesian(spark):
    plan = _plan(spark, "q21_final_shipper")
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q2_broadcasts_dims(spark):
    plan = _plan(spark, "q2_min_cost_supplier")
    assert "BroadcastHashJoin" in plan  # nation/region sides


def test_q22_anti_join_shape(spark):
    plan = _plan(spark, "q22_dormant_customers")
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_registry_wide_plan_audit_clean(spark):
    """EVERY catalog query's physical plan is free of scale
    anti-patterns: no CartesianProduct, no row-at-a-time Python
    (BatchEvalPython), and BroadcastNestedLoopJoin only where the
    broadcast side is a known scalar/1-row relation (tools/plan_audit.py
    BNLJ_ALLOWED, with reasons). This is the registry-level guarantee
    behind the per-query spot checks above."""
    from tools.plan_audit import BNLJ_ALLOWED, audit_plan

    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    failures = {}
    for name, qd in all_queries().items():
        df = qd.spark(spark, SF_SMOKE)
        plan = df._jdf.queryExecution().explainString(mode)
        violations, _ = audit_plan(name, plan)
        if violations:
            failures[name] = violations
    assert not failures, failures
    # allowlist hygiene: every allowlisted name must still exist
    missing = [n for n in BNLJ_ALLOWED if n not in all_queries()]
    assert not missing, f"stale BNLJ allowlist entries: {missing}"


def test_bucketed_sessionize_eliminates_shuffle(spark, tmp_path):
    """VERDICT r4 task 8 (flagship warm path): events pre-bucketed by the
    session key sessionize with ZERO Exchange — the scan's bucketing
    satisfies the groupBy's distribution requirement, so the whole
    sessionization is a per-bucket local aggregate. At 100 TB this is the
    difference between re-shuffling the full line corpus per run and a
    shuffle-free scan over a table bucketed once at ingest. The
    unbucketed control plan must shuffle."""
    from log_analysis_bigdata_spark.catalog import load_table
    from log_analysis_bigdata_spark.operators.sessionize import sessionize

    spark.sql(f"CREATE DATABASE IF NOT EXISTS sessdb LOCATION '{tmp_path}'")
    try:
        ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
            "user_id", "ts", "event_type"
        )
        (
            ev.write.mode("overwrite")
            .bucketBy(8, "user_id")
            .sortBy("user_id")
            .saveAsTable("sessdb.events_by_user")
        )
        sess = sessionize(
            spark.table("sessdb.events_by_user"),
            "user_id", "ts", "event_type",
        )
        plan = sess._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert "Exchange" not in plan  # bucket layout feeds the agg
        # results identical to the unbucketed run
        got = {r["user_id"]: (r["num_lines"], r["duration_sec"])
               for r in sess.collect()}
        want = {r["user_id"]: (r["num_lines"], r["duration_sec"])
                for r in sessionize(ev, "user_id", "ts", "event_type").collect()}
        assert got == want and len(got) > 0

        control = sessionize(ev, "user_id", "ts", "event_type")
        cplan = control._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert "Exchange" in cplan  # unbucketed twin must shuffle
    finally:
        spark.sql("DROP DATABASE IF EXISTS sessdb CASCADE")


def _fmt(spark, df) -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_bucketed_dedup_pipeline_shuffles_corpus_only_by_bucket_keys(
    spark, tmp_path
):
    """VERDICT r5 task 8: the end-to-end dedup pipeline's plan-level
    scale proof. Over a doc_id-bucketed corpus, stages 1-3 (shingle →
    bands → LSH candidates → Jaccard verify) shuffle the CORPUS only on
    its two bucket keys: the (band_idx, digest) LSH bucket for candidate
    generation, and nothing at all for the verify joins — the bucketed
    scan already satisfies their doc_id distribution, so only the tiny
    candidate side moves. The unbucketed control must add corpus-wide
    doc_id Exchanges. (Stages 4-5 run over the edge list — orders of
    magnitude smaller — and localCheckpoint eagerly, so they cannot
    appear in one explain tree; components' own plan discipline is
    covered by its tests.)"""
    from log_analysis_bigdata_spark.catalog import load_table
    from log_analysis_bigdata_spark.operators.dedup import (
        band_digests,
        candidate_pairs,
        shingle_sets,
        verify_jaccard,
    )

    def stages_1_to_3(corpus):
        sh = shingle_sets(corpus)
        return verify_jaccard(candidate_pairs(band_digests(sh)), sh)

    spark.sql(f"CREATE DATABASE IF NOT EXISTS dedupdb LOCATION '{tmp_path}'")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # broadcast off: the contrast under test is shuffle-vs-bucket on
        # the corpus side; a broadcast of the candidate list would hide it
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        docs = load_table(spark, SF_SMOKE, "documents").select(
            "doc_id", "text"
        )
        (
            docs.write.mode("overwrite")
            .bucketBy(8, "doc_id")
            .saveAsTable("dedupdb.documents_by_id")
        )
        ver_b = stages_1_to_3(spark.table("dedupdb.documents_by_id"))
        plan_b = _fmt(spark, ver_b)
        ver_u = stages_1_to_3(docs)
        plan_u = _fmt(spark, ver_u)

        # bucketing removed the corpus-side verify Exchanges
        assert plan_b.count("Exchange") < plan_u.count("Exchange")
        # the one corpus-wide shuffle that remains is keyed on the LSH
        # band bucket (band_idx, digest) — never on raw doc rows
        assert "hashpartitioning(bi" in plan_b
        # bucketed scan feeds the verify joins directly
        assert "Bucketed: true" in plan_b
        # same answer either way
        got = sorted(map(tuple, ver_b.collect()))
        want = sorted(map(tuple, ver_u.collect()))
        assert got == want and len(got) > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP DATABASE IF EXISTS dedupdb CASCADE")


def test_reservoir_sample_is_topk_not_full_sort(spark):
    """reservoir_sample_docs must compile to TakeOrderedAndProject —
    per-partition top-k then driver merge (the distributed reservoir
    merge), never a full Exchange+Sort of the corpus."""
    plan = _plan(spark, "reservoir_sample_docs")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan


def test_incremental_dedup_broadcasts_new_batch_never_shuffles_history(
    spark,
):
    """incremental_dedup_newbatch's 100 TB contract: the daily batch's
    band digests are broadcast, so the candidate join is a
    BroadcastHashJoin and the HISTORY corpus reaches it without any
    Exchange — history is scanned, never shuffled, for candidate
    generation."""
    import re

    from log_analysis_bigdata_spark.catalog import load_table
    from log_analysis_bigdata_spark.operators.dedup import (
        incremental_verified_matches,
        shingle_sets,
    )
    from log_analysis_bigdata_spark.queries.corpusq import _new_batch_spark

    # explain the LAZY operator stage: the registry entry checkpoints it
    # eagerly (to release the shingle caches), which would hide the
    # candidate/verify joins from the final frame's explain
    hist = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    ver = incremental_verified_matches(
        shingle_sets(hist), shingle_sets(_new_batch_spark(spark, SF_SMOKE))
    )
    plan = _fmt(spark, ver)
    # candidate join (and the verify joins behind it) broadcast the
    # small side
    assert "BroadcastHashJoin" in plan
    tree = plan.split("\n\n")[0]  # numbered tree, before per-node details
    shuffles = [
        ln
        for ln in tree.splitlines()
        if re.search(r"\bExchange \(", ln) and "BroadcastExchange" not in ln
    ]
    # the only shuffle Exchanges are batch/candidate-sized: the new-batch
    # union feeding the final left join, the candidate-pair distinct, and
    # the verify output — three nodes, none of them the history corpus
    # (history flows scan -> band unpivot -> BroadcastHashJoin with no
    # Exchange; a regression that shuffles history adds a fourth).
    assert len(shuffles) <= 3, shuffles


def test_heavy_hitters_final_cut_is_topk_not_window(spark):
    """heavy_hitters_topk's final ranking must be TakeOrderedAndProject
    (per-partition top-10 heaps), never an unpartitioned row_number
    WindowExec that moves every key count to a single partition
    (VERDICT r10 task 5). Asserted on the _hh_ordered_top10 cut the
    query collects, and on the registered query's returned plan (a
    10-row LocalTableScan — no window anywhere)."""
    from pyspark.sql import functions as F

    from log_analysis_bigdata_spark.catalog import load_table
    from log_analysis_bigdata_spark.queries import relational as R

    counts = (
        load_table(spark, SF_SMOKE, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    plan = _fmt(spark, R._hh_ordered_top10(counts))
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan

    final = _plan(spark, "heavy_hitters_topk")
    assert "Window" not in final


def test_funnel_pushes_step_filters_to_scan(spark):
    """Each funnel step's event_type filter must reach the parquet scan
    (a funnel that scans all events three times unfiltered reads 3x the
    corpus at 100 TB), and the step joins must be hash joins, not
    nested loops."""
    plan = _plan(spark, "funnel_conversion_steps")
    assert "EqualTo(event_type,view)" in plan
    assert "EqualTo(event_type,click)" in plan
    assert "EqualTo(event_type,purchase)" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_covariance_shuffles_only_partials(spark):
    """embedding_covariance_topk's only corpus-touching exchange is the
    d^2-key partial-sum aggregate after the mapInPandas pass — the
    corpus itself is never joined or re-shuffled, and the final cut is
    a top-k, not a global sort."""
    plan = _plan(spark, "embedding_covariance_topk")
    assert "MapInPandas" in plan
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan


def test_attribution_single_user_shuffle_and_pushed_touch_filter(spark):
    """attribution_revenue_touch's contract: the touch-type IN filter
    reaches the events scan (no full-log read), the union's only
    corpus-touching exchange is the ONE hashpartitioning(user_id)
    window sort, and nothing joins — no SMJ/BNLJ/Cartesian anywhere."""
    plan = _plan(spark, "attribution_revenue_touch")
    assert "In(event_type" in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    import re

    user_exchanges = re.findall(r"hashpartitioning\(user_id", plan)
    assert len(user_exchanges) >= 1
    # the stream is shuffled on user_id exactly once (plus the tiny
    # model×channel agg exchange) — count all Exchange nodes in the
    # main tree section to pin that shape
    n_ex = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_ex <= 3, f"unexpected extra shuffles: {n_ex}"
