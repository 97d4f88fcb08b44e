"""Every registered query must hash-match its DuckDB oracle — the local
twin of the driver's CORRECTNESS gate, run at sf0.001 for speed.

Uses the SAME strict compare + oracle-fetch implementation as the full
sweep tool (tools/driver_parity.py) — see tests/oracle_harness.py
(VERDICT r8 task 8: one implementation, two entry points)."""

from __future__ import annotations

import pytest

from log_analysis_bigdata_spark.queries import all_queries

from .conftest import SF_ORACLE
from .oracle_harness import (
    duck_connection,
    fetch_oracle_df,
    strict_compare_frames,
)

QUERIES = all_queries()
WITH_ORACLE = sorted(n for n, q in QUERIES.items() if q.oracle)


@pytest.fixture(scope="module")
def duck():
    con = duck_connection(SF_ORACLE)
    yield con
    con.close()


@pytest.mark.parametrize("name", WITH_ORACLE)
def test_query_matches_oracle(spark, duck, name):
    qd = QUERIES[name]
    spdf = qd.spark(spark, SF_ORACLE).toPandas()
    dpdf, _note = fetch_oracle_df(duck, name, qd.oracle)
    problems, _kind_notes = strict_compare_frames(spdf, dpdf)
    assert not problems, f"{name}: " + "; ".join(problems)


def test_all_queries_return_rows(spark):
    for name, qd in QUERIES.items():
        df = qd.spark(spark, SF_ORACLE)
        assert df.columns, f"{name} has no columns"


def test_pq_d2_rounding_matches_duckdb(spark):
    """ivfpq_topk / ivfpq_knn_join report ``pq_d2 = ad2u / 10⁶`` at 4
    decimals, and the oracle rounds with DuckDB's ``round(x, 4)``. Spark's
    own ``round(x, 4)`` disagrees on half-way cases such as ad2u=150
    (0.0002 vs 0.0001); the shared ``pq_d2`` helper must agree with
    DuckDB on every ad2u in [0, 3·10⁶)."""
    import duckdb
    import numpy as np
    from pyspark.sql import functions as F

    from log_analysis_bigdata_spark.queries.vectorq import pq_d2

    n = 3_000_000
    got = (
        spark.range(0, n, numPartitions=4)
        .select("id", pq_d2(F.col("id")).alias("pq_d2"))
        .toPandas()
        .sort_values("id")["pq_d2"]
        .to_numpy()
    )
    want = (
        duckdb.connect()
        .execute(
            f"SELECT round(i / 1000000.0, 4) AS pq_d2 FROM range(0, {n}) t(i) "
            "ORDER BY i"
        )
        .fetchdf()["pq_d2"]
        .to_numpy()
    )
    assert got[150] == want[150] == 0.0001
    bad = np.nonzero(got != want)[0]
    assert bad.size == 0, f"{bad.size} mismatches, first ad2u={bad[:5]}"
    # the plain Spark expression really does diverge there
    old = spark.range(150, 151).select(
        F.round(F.col("id") / 1_000_000.0, 4).alias("r")
    ).first()["r"]
    assert old == 0.0002
