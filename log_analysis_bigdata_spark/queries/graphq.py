"""Graph-analytics queries over the relational tables: deterministic
integer PageRank (the second iterative-algorithm family next to
operators/components.py's connected components).

Determinism design: PageRank in floating point is NOT cross-engine
hash-stable (per-key double sums depend on reduction order), so ranks
are kept in integer micro-units with floor division — addition of
bigints is order-independent, and ``floor(a * b / c)`` on bigints is
bit-identical in Spark and DuckDB. The damping update is

    r'(v) = JUMP + Σ_{u→v} floor(DAMP_NUM * r(u) / (DAMP_DEN * outdeg(u)))

with JUMP = 150_000, DAMP_NUM/DAMP_DEN = 850/1000 and r0 = 1_000_000 —
the classic 0.15/0.85 PageRank scaled by 1e6. The loop runs the fixed
PR_ITERS-round budget that the SQL oracle unrolls, with no early exit.
The round-8 fixpoint exit and the r18 checkpoint windows are gone:
the three rounds nest into one lazy plan that runs as one job, so an
exit test could save no job, and only tests ever reached it. The
one fixpoint loop left is operators/components.py's label
propagation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from . import register

PR_ITERS = 3
PR_JUMP = 150_000
PR_DAMP_NUM = 850
PR_DAMP_DEN = 1000
PR_INIT = 1_000_000
SUPP_OFFSET = 10_000_000  # supplier node ids, disjoint from customers

# Directed edge list, both directions: customer ↔ supplier whenever a
# lineitem links them. Bidirectional edges mean no dangling nodes, so
# the rank mass lost to floor() is the only leak (identical on both
# engines).
_EDGES_SQL = f"""
      SELECT DISTINCT o.o_custkey AS src,
             l.l_suppkey + {SUPP_OFFSET} AS dst
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      UNION
      SELECT DISTINCT l.l_suppkey + {SUPP_OFFSET} AS src,
             o.o_custkey AS dst
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
"""


def _pr_step_sql(prev: str, out: str) -> str:
    return f"""
    {out} AS (
      SELECT e.dst AS node,
             {PR_JUMP} + CAST(coalesce(sum(
               ({PR_DAMP_NUM} * r.rank) // ({PR_DAMP_DEN} * d.outdeg)
             ), 0) AS BIGINT) AS rank
      FROM edges e
      JOIN {prev} r ON r.node = e.src
      JOIN deg d ON d.node = e.src
      GROUP BY e.dst
    )"""


@register(
    "pagerank_supplier_graph",
    oracle=f"""
    WITH edges AS ({_EDGES_SQL}),
    deg AS (SELECT src AS node, count(*) AS outdeg FROM edges GROUP BY src),
    r0 AS (SELECT node, CAST({PR_INIT} AS BIGINT) AS rank FROM deg),
    {_pr_step_sql("r0", "r1")},
    {_pr_step_sql("r1", "r2")},
    {_pr_step_sql("r2", "r3")}
    SELECT node, rank FROM r3
    ORDER BY rank DESC, node
    LIMIT 20
    """,
    tags=("graph", "pagerank", "iterative"),
)
def pagerank_supplier_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer PageRank over the customer↔supplier order graph, 3
    rounds, top-20 nodes. Each round is one edges⋈ranks join + a
    groupBy(dst) sum; the edge/degree frames are materialized ONCE
    before the loop, and the three rounds run as one checkpointed job
    (_pr_loop). Integer micro-unit arithmetic makes every round's output
    bit-identical to the unrolled-CTE oracle (module docstring).

    Scale: per round, one shuffle of the edge list keyed on src (join)
    and one on dst (agg) — the same budget as one round of label
    propagation; ranks/degrees are node-sized. Top-20 is
    TakeOrderedAndProject, no full sort.
    """
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    cs = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("c"),
            (F.col("l_suppkey") + SUPP_OFFSET).alias("s"),
        )
        # dedup the UNDIRECTED pair set FIRST (r15): customer and
        # supplier ids live in disjoint ranges (SUPP_OFFSET), so the
        # two directed copies below are distinct-by-construction and
        # disjoint from each other — the old `union(...).distinct()`
        # hash-aggregated 2× the rows for the identical edge set
        # (the probe's sf10 graph OOM'd exactly in that doubled
        # distinct on an 8g heap; halving its input is the fix that
        # scales rather than a bigger heap)
        .distinct()
    )
    # Materialize the UNDIRECTED pair set ONCE as a serialized columnar
    # cache (r15): the old localCheckpoint of the mirrored 2E edge list
    # stored every row as a deserialized JVM object — 32 concurrent
    # tasks each buffering a full partition block put ~2E × ~100 B of
    # raw objects on the heap at materialization (the sf10 probe's
    # 120M-edge graph OOM'd an 8–16 GiB driver exactly there).
    # A DataFrame persist is compressed columnar batches (~16 B/row
    # here) and the mirror is a zero-cost narrow view on top of it.
    cs = cs.persist()
    edges = cs.select(
        F.col("c").alias("src"), F.col("s").alias("dst")
    ).unionAll(cs.select(F.col("s").alias("src"), F.col("c").alias("dst")))
    # deg's eager checkpoint is the ONE pre-loop barrier (r17): it
    # materializes the cs cache as a side effect, and an Observation on
    # the same job carries Σoutdeg (= 2·|undirected pairs|, the
    # loop_parallelism sizing input) — no separate cs.count() job
    # (guide §1.2: fewer barrier jobs, same answers).
    deg_obs = Observation()
    deg = (
        edges.groupBy("src")
        .agg(F.count(F.lit(1)).alias("outdeg"))
        .withColumnRenamed("src", "node")
        .observe(deg_obs, F.sum("outdeg").alias("deg_sum"))
        .localCheckpoint(eager=True)  # node-sized: cheap, truncates
    )
    two_e = int(deg_obs.get["deg_sum"] or 0)
    # narrow derivation from the checkpointed deg — its own checkpoint
    # was a pure barrier job (r17)
    ranks = deg.select(
        "node", F.lit(PR_INIT).cast("bigint").alias("rank")
    )
    pre = edges.join(
        deg.withColumnRenamed("node", "src"), "src"
    )  # (src, dst, outdeg), loop-invariant
    # per-round joins/aggs shuffle at edge-set scale, not the session's
    # corpus-scale default — shared helper with connected_components
    from ..operators.components import loop_parallelism

    with loop_parallelism(spark, two_e) as session_default:
        # Pre-partition the loop-invariant edge frame ON THE JOIN KEY
        # and persist it (r9): persist — unlike localCheckpoint —
        # preserves outputPartitioning, so every round's shuffle-hash
        # join reads the cached partitions in place and only the
        # node-sized ranks frame moves. Previously the FULL edge frame
        # re-exchanged every round (3 exchanges/round -> 2, and the big
        # one is gone) — at 100 TB this is the difference between
        # shuffling the edge list k times and once. The partition count
        # matches the narrowed loop conf so the per-round ranks
        # exchange aligns with the cached layout.
        nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
        # persisted but NOT pre-counted (r17): round 1's own job
        # materializes the cache exactly once (the frame appears once
        # per round's plan), so the standalone count was a pure barrier
        contrib_src = pre.repartition(nparts, "src").persist()
        try:
            # the whole 3-round budget is ONE lazy plan materialized as
            # one job (loop barrier jobs 3 → 1, guide §1.2)
            ranks = _pr_loop(contrib_src, ranks, session_default)
        finally:
            contrib_src.unpersist(blocking=False)
            cs.unpersist(blocking=False)  # contrib_src is materialized
    return ranks.orderBy(F.desc("rank"), "node").limit(20)


def _pr_loop(
    contrib_src: DataFrame,
    ranks: DataFrame,
    session_default: str | None = None,
) -> DataFrame:
    """Apply ``PR_ITERS`` damped-update rounds to ``ranks`` and return
    the new rank frame. The rounds nest into one lazy plan (each round
    references the previous frame once), and one eager localCheckpoint
    runs it as one job. The checkpoint also materializes the ranks
    before the caller unpersists the frames that plan reads.

    PRECONDITION: every ranked node must appear as a ``dst`` in
    ``contrib_src`` (true for bidirectional edge sets, as the
    registered query builds). A node with no in-edges leaves the frame
    after one round, exactly as the oracle's ``GROUP BY e.dst`` drops
    it."""
    from ..operators.components import guard_parallelism

    spark = contrib_src.sparkSession
    if session_default is None:
        session_default = spark.conf.get("spark.sql.shuffle.partitions")
    for _ in range(PR_ITERS):
        guard_parallelism(spark, session_default)
        ranks = (
            contrib_src.join(
                # shuffle_hash with ranks as build side: the persisted
                # edge frame's hashpartitioning(src) satisfies the join
                # requirement (no re-exchange; a broadcast would ship
                # the node-sized frame to every executor each round and
                # a sort-merge would re-sort the cached side per round)
                ranks.withColumnRenamed("node", "src").hint(
                    "shuffle_hash"
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(
                (
                    F.lit(PR_JUMP)
                    + F.coalesce(
                        # SQL `div`: exact bigint division (the Python
                        # `/` operator would route through double)
                        F.sum(
                            F.expr(
                                f"({PR_DAMP_NUM} * rank) div "
                                f"({PR_DAMP_DEN} * outdeg)"
                            )
                        ),
                        F.lit(0),
                    )
                )
                .cast("bigint")
                .alias("rank")
            )
        )
    return ranks.localCheckpoint(eager=True)
