"""Adversarial-skew stress tests (VERDICT r8 task 5).

The skew-mitigation paths (operators/skew.py salting, SemDeDup's
rank-sub-cell pair cap) claim safety under hot keys, but the driver
testdata is near-uniform. These tests generate genuinely adversarial
distributions (tools/skew_fixture.py):

- events with Zipf(1.5) user_id / event_type — the top user owns ~38%
  of all rows, the distribution where one reducer melts;
- an embeddings corpus of IDENTICAL vectors — every centroid distance
  ties exactly, so the tie-break routes the entire corpus into ONE
  cell (maximum cell skew).

and assert (a) the salted paths return rows IDENTICAL to their
unsalted twins, (b) salting provably bounds the max shuffle-partition
row count vs the unsalted key partitioning, and (c) the sub-cell cap
turns the would-be quadratic one-cell pair join into the predicted
capped pair count — with the DuckDB oracle agreeing bit-for-bit on the
all-ties corpus (the adversarial probe of the argmin tie-break mirror).
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from tools.skew_fixture import make_tied_embeddings, make_zipf_events

from .conftest import _jobs_run

N_ROWS = 300_000
SALT_BUCKETS = 16
SHUFFLE_P = 32


@pytest.fixture(scope="module")
def zipf_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("zipf"))
    stats = make_zipf_events(d, n_rows=N_ROWS, seed=7)
    # the fixture must actually BE adversarial or the bounds below
    # prove nothing
    assert stats["top_user_share"] >= 0.30
    assert stats["top_type_share"] >= 0.30
    return d


def _events(spark, d):
    from log_analysis_bigdata_spark.catalog import load_table

    return load_table(spark, d, "events")


def test_salted_agg_identical_rows_on_zipf(spark, zipf_dir):
    from log_analysis_bigdata_spark.operators.skew import salted_agg

    ev = _events(spark, zipf_dir)
    salted = salted_agg(
        ev,
        ["event_type"],
        partial={
            "c": F.count(F.lit(1)),
            "s": F.sum(F.round(F.col("value") * 100).cast("long")),
        },
        final={"n": F.sum("c"), "total_cents": F.sum("s")},
        salt_buckets=SALT_BUCKETS,
    )
    plain = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias(
            "total_cents"
        ),
    )
    assert sorted(map(tuple, salted.collect())) == sorted(
        map(tuple, plain.collect())
    )


def test_salted_join_identical_rows_on_zipf(spark, zipf_dir):
    from log_analysis_bigdata_spark.operators.skew import salted_join

    ev = _events(spark, zipf_dir).select("event_id", "user_id", "value")
    users = (
        _events(spark, zipf_dir)
        .select("user_id")
        .distinct()
        .withColumn("segment", (F.col("user_id") % 5).cast("int"))
    )
    salted = salted_join(ev, users, "user_id", salt_buckets=8)
    plain = ev.join(users, "user_id")
    cols = sorted(salted.columns)
    assert cols == sorted(plain.columns)
    assert sorted(map(tuple, salted.select(*cols).collect())) == sorted(
        map(tuple, plain.select(*cols).collect())
    )


def test_salting_bounds_max_shuffle_partition(spark, zipf_dir):
    """The measurable skew claim: hash-partitioning the zipf events by
    the bare hot key concentrates the top user's ~38% of rows in ONE
    partition; partitioning by (key, salt) spreads them over the salt
    buckets. Max-partition row count must drop by >=4x (measured ~10x)."""
    from log_analysis_bigdata_spark.operators.skew import SALT

    ev = _events(spark, zipf_dir).select("user_id", "value")

    def max_part(df, *keys):
        return (
            df.repartition(SHUFFLE_P, *keys)
            .groupBy(F.spark_partition_id().alias("p"))
            .count()
            .agg(F.max("count"))
            .collect()[0][0]
        )

    unsalted = max_part(ev, "user_id")
    salted_df = ev.withColumn(
        SALT, F.floor(F.rand(42) * SALT_BUCKETS).cast("int")
    )
    salted = max_part(salted_df, "user_id", SALT)
    assert unsalted >= 0.30 * N_ROWS  # the hot key really concentrates
    assert salted * 4 <= unsalted, (
        f"salting only reduced max partition {unsalted} -> {salted}"
    )


def test_semdedup_subcell_caps_adversarial_cell(spark, tmp_path):
    """All-identical vectors tie every centroid distance, so the
    deterministic tie-break assigns the ENTIRE corpus to the lowest
    cell id — the worst-case skewed cell. The rank-sub-cell cap must
    bound the pair join to ceil(m/W) within-sub blocks (exact expected
    pair count, not O(m^2)), and the DuckDB oracle must agree
    bit-for-bit on this all-ties corpus (adversarial probe of the
    engine/oracle argmin tie-break mirror)."""
    import duckdb

    from log_analysis_bigdata_spark.queries import all_queries
    from log_analysis_bigdata_spark.queries.vectorq import (
        SEMDEDUP_SPLIT_WIDTH,
    )
    from tests.oracle_harness import strict_compare_frames

    d = str(tmp_path)
    n = make_tied_embeddings(d)["n_vecs"]
    qd = all_queries()["semdedup_embedding_cells"]
    spdf = qd.spark(spark, d).toPandas()

    # one row: every vector in cell 0 (tie-break to lowest cell id)
    assert list(spdf["cell"]) == [0]
    assert int(spdf["n_members"][0]) == n
    # capped pair count: rank sub-cells of width W, all-pairs inside
    w = SEMDEDUP_SPLIT_WIDTH
    widths = [w] * (n // w) + ([n % w] if n % w else [])
    expected_pairs = sum(m * (m - 1) // 2 for m in widths)
    assert expected_pairs < n * (n - 1) // 2  # the cap actually bit
    assert int(spdf["n_dup_pairs"][0]) == expected_pairs
    assert int(spdf["n_dropped"][0]) == n - len(widths)
    assert math.comb(n, 2) // expected_pairs >= 3  # >=3x work reduction

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{d}/embeddings.parquet')"
    )
    dpdf = con.execute(qd.oracle).fetchdf()
    problems, _ = strict_compare_frames(spdf, dpdf)
    assert not problems, "; ".join(problems)


def test_kmeans_all_ties_assign_lowest_cell(spark, tmp_path):
    """All-identical vectors tie every centroid distance, so the
    k-means step must put the whole corpus in cell 0 (the lowest cell
    id, np.argmin's first minimum over cell-sorted centroids) with a
    zero shift, and match the DuckDB oracle bit-for-bit. DuckDB's
    ``arg_min(c, d2)`` keeps whichever tied row it meets first, so the
    registered oracle spreads this corpus over all four cells; the
    comparison swaps in the explicit (d2, c) lexicographic min the
    SemDeDup oracle uses, which is the tie rule the engine promises."""
    import duckdb

    from log_analysis_bigdata_spark.queries import all_queries
    from tests.oracle_harness import strict_compare_frames

    d = str(tmp_path)
    n = make_tied_embeddings(d)["n_vecs"]
    qd = all_queries()["kmeans_step_shift"]
    spdf = qd.spark(spark, d).toPandas()

    assert list(spdf["cell"]) == [0]
    assert int(spdf["n_members"][0]) == n
    assert float(spdf["centroid_shift"][0]) == 0.0

    tie = "arg_min(c, d2) AS cell"
    assert qd.oracle.count(tie) == 1
    oracle = qd.oracle.replace(
        tie, "(min(struct_pack(d2 := d2, c := c))).c AS cell"
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{d}/embeddings.parquet')"
    )
    dpdf = con.execute(oracle).fetchdf()
    problems, _ = strict_compare_frames(spdf, dpdf)
    assert not problems, "; ".join(problems)


def test_semdedup_zero_vectors_match_oracle(spark, tmp_path):
    """Zero-norm embeddings make a pair's cosine 0/0: NaN in the pair
    kernel, which never qualifies, and NULL in DuckDB, where
    ``NULL >= threshold`` filters the row. Zero vectors therefore must
    contribute no dup pair on either engine and the cell stats must
    match the oracle exactly. The corpus mixes random vectors, a block
    of zero vectors (all tied to the same nearest centroid) and six
    identical copies of one vector (15 planted dup pairs)."""
    import duckdb
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from log_analysis_bigdata_spark.queries import all_queries
    from tests.oracle_harness import strict_compare_frames

    rng = np.random.RandomState(99)
    vecs = rng.uniform(-1.0, 1.0, (200, 64)).astype(np.float32).tolist()
    vecs += [[0.0] * 64] * 12 + [vecs[1]] * 5
    n = len(vecs)
    pq.write_table(
        pa.table(
            {
                "vec_id": np.arange(n, dtype=np.int64),
                "embedding": pa.array(vecs, type=pa.list_(pa.float32())),
                "label": np.zeros(n, dtype=np.int32),
            }
        ),
        str(tmp_path / "embeddings.parquet"),
    )
    qd = all_queries()["semdedup_embedding_cells"]
    spdf = qd.spark(spark, str(tmp_path)).toPandas()
    assert int(spdf["n_members"].sum()) == n
    assert int(spdf["n_dup_pairs"].sum()) >= 15  # the planted copies

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{tmp_path}/embeddings.parquet')"
    )
    dpdf = con.execute(qd.oracle).fetchdf()
    problems, _ = strict_compare_frames(spdf, dpdf)
    assert not problems, "; ".join(problems)


def test_heavy_hitters_sketch_arm_exact_on_skew(spark, zipf_dir, monkeypatch):
    """On the Zipfian fixture (the top user owns ~38% of the rows) the
    registered query returns exactly the groupBy-count top-10."""
    from log_analysis_bigdata_spark.queries import relational as R

    ev = _events(spark, zipf_dir).select("user_id")
    exact = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "user_id")
        .limit(10)
        .collect()
    )
    monkeypatch.setattr(R, "load_table", lambda s, d, t: ev)
    got = R.heavy_hitters_topk(spark, zipf_dir).collect()
    assert [(r["user_id"], r["n"]) for r in got] == [
        (r["user_id"], r["n"]) for r in exact
    ]


def test_heavy_hitters_sketch_arm_counts_null_keys(spark, monkeypatch):
    """A NULL user_id is an ordinary group: on a corpus where NULL is a
    top-10 key the query reports it with its exact count, placed by
    the NULLS LAST tie-break DuckDB's oracle uses."""
    from log_analysis_bigdata_spark.queries import relational as R

    # NULL every 8th row (5,000 rows); the rest log2-bucketed — ~16
    # keys with 2^k-style counts
    ev = spark.range(40_000).selectExpr(
        "CASE WHEN id % 8 = 0 THEN NULL"
        " ELSE CAST(log2(id + 1) AS BIGINT) END AS user_id"
    )
    exact = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc_nulls_last("user_id"))
        .limit(10)
        .collect()
    )
    assert any(r["user_id"] is None for r in exact)  # NULL is top-10

    monkeypatch.setattr(R, "load_table", lambda s, d, t: ev)
    got = R.heavy_hitters_topk(spark, "unused").collect()
    assert [(r["user_id"], r["n"]) for r in got] == [
        (r["user_id"], r["n"]) for r in exact
    ]
    null_rows = [r for r in got if r["user_id"] is None]
    assert len(null_rows) == 1 and null_rows[0]["n"] == 5_000


def test_heavy_hitters_runs_only_the_top10_job(spark, zipf_dir, monkeypatch):
    """Building heavy_hitters_topk runs no Spark job beyond collecting
    its ordered top-10 cut: no gate or pre-pass over the events."""
    from log_analysis_bigdata_spark.queries import relational as R

    ev = _events(spark, zipf_dir).select("user_id")
    counts = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    cut_jobs, cut = _jobs_run(
        spark, "hh_cut", lambda: R._hh_ordered_top10(counts).collect()
    )
    monkeypatch.setattr(R, "load_table", lambda s, d, t: ev)
    query_jobs, got = _jobs_run(
        spark, "hh_query", lambda: R.heavy_hitters_topk(spark, zipf_dir)
    )
    assert query_jobs == cut_jobs
    assert [(r["user_id"], r["n"]) for r in got.collect()] == [
        (r["user_id"], r["n"]) for r in cut
    ]


def test_embedding_dup_class_collapse_component_equivalent(spark, tmp_path):
    """r17 (VERDICT r16 task 4): byte-identical embeddings form a
    degenerate hyperplane-LSH bucket (every sign band agrees), so
    dedup_components routes through _near_dup_component_edges — exact
    classes star-collapse to their min vec_id before banding. Pins:
    (1) components are IDENTICAL to the uncollapsed pair generation's
    (the output-preservation proof at unit scale); (2) the class
    contributes exactly m star edges, and the banded join sees one
    representative (candidate volume O(naturals), never m²/2)."""
    from tools.skew_fixture import make_dup_class_embeddings

    from log_analysis_bigdata_spark.operators.components import (
        connected_components,
    )
    from log_analysis_bigdata_spark.queries.vectorq import (
        _near_dup_component_edges,
        embedding_near_dup,
    )

    d = str(tmp_path)
    meta = make_dup_class_embeddings(d, n_natural=200, m_dup=40)
    n_nat, m = meta["n_natural"], meta["m_dup"]

    edges = _near_dup_component_edges(spark, d)
    got = {
        r["node"]: r["component"]
        for r in connected_components(
            edges, src="id_a", dst="id_b"
        ).collect()
    }
    pairs = embedding_near_dup(spark, d).select("id_a", "id_b")
    want = {
        r["node"]: r["component"]
        for r in connected_components(
            pairs, src="id_a", dst="id_b"
        ).collect()
    }
    assert got == want and got  # identical clustering, nonempty
    # the planted ids all collapse to vector 0's component
    for i in range(n_nat, n_nat + m):
        assert got[i] == 0
    # star contribution: the class's members appear exactly once as a
    # star target each in the collapsed edge list (id_a == 0 for them),
    # and the banded join carried ONE representative — so collapsed
    # edges among class ids are exactly the m star edges, while the
    # uncollapsed pair list is quadratic in the class
    class_ids = set(range(n_nat, n_nat + m)) | {0}
    star_edges = [
        r
        for r in edges.collect()
        if r["id_a"] in class_ids and r["id_b"] in class_ids
    ]
    assert len(star_edges) == m
    quad = pairs.filter(
        F.col("id_a").isin(list(class_ids))
        & F.col("id_b").isin(list(class_ids))
    ).count()
    assert quad == (m + 1) * m // 2  # the blowup the collapse avoids
