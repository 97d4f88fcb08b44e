"""Connected components by min-label propagation with pointer jumping —
the clustering step a dedup pipeline runs AFTER candidate pairs: near-dup
pairs are edges; each component keeps one canonical document.

This is the brief's "iterative algorithm" class: no single SQL statement
expresses transitive closure, so the driver loops label-propagation
rounds until a fixpoint (the DuckDB oracle replays it with a recursive
CTE, which is its own fixpoint loop). Each round is two shuffles
(neighbor-min join + a path-halving self-join); plain neighbor
propagation alone needs diameter-many rounds (measured 14 on the
simhash near-dup graph at sf0.01 — 30 s), while the added pointer jump
``component := component(component)`` compresses label paths so rounds
drop to O(log diameter) — the same acceleration the Kiveris et al.
"Connected Components in MapReduce" large-star/small-star family uses.
Every round's result is localCheckpoint-ed (eager) and the previous
round dropped, so lineage stays O(1) deep instead of accumulating an
unexecutable plan — the standard Spark iterative-algorithm discipline
(same shape GraphX/GraphFrames uses).

Strategy selection at runtime (round 7): the symmetric edge list is
materialized first, and when it is small (<= LOCAL_SOLVE_MAX_EDGES) a
driver-side union-find replaces the loop entirely — a verified dedup
edge set is candidate-sized, and for a few thousand edges the
distributed loop's cost is 100% fixed job-scheduling latency. The
distributed fixpoint remains the path for genuinely large graphs; the
two are property-tested equal on random graphs.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType


# Loop working-set rows per shuffle partition (loop_parallelism).
ROWS_PER_PARTITION = 200_000


@contextmanager
def loop_parallelism(spark, n_rows: int):
    """Scope spark.sql.shuffle.partitions to an iterative loop, sized to
    the loop's OWN working set (edge/rank frames) instead of the
    session's corpus-scale default: a 4k-edge graph at 32 shuffle
    partitions pays ~32x the task-scheduling cost per round for zero
    parallelism gain (measured 3.7s -> 2.3s for the label-propagation
    loop at sf0.01). Never above the session default, so a 100 TB edge
    set keeps full parallelism; the conf is restored on exit. Session-
    scoped, single-driver-thread assumption — shared by
    connected_components and queries/graphq's PageRank so the two
    iterative operators cannot drift apart."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if spark.streams.active:
        # The narrowing is session-global: a streaming micro-batch
        # planned concurrently on this session would silently compile
        # with the reduced partition count (ADVICE r6). Streaming jobs
        # plan on their own thread, so the single-driver-thread
        # assumption doesn't hold — skip the optimization entirely; the
        # loop still runs correctly at the session default.
        yield prev
        return
    parts = max(1, min(int(prev), n_rows // ROWS_PER_PARTITION + 1))
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        yield prev
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def guard_parallelism(spark, prev: str) -> None:
    """Per-round re-check for the loop above (code-review r7): a
    streaming query STARTED while the loop holds the narrowed conf
    would compile its first micro-batch — and pin its state-store
    partition count — at the reduced value. Restoring the session
    default the moment a stream appears shrinks that window from the
    whole loop to at most one round; the complete fix is running
    streaming jobs on their own SparkSession (spark.newSession()), as
    streaming/job.py documents."""
    if spark.streams.active and (
        spark.conf.get("spark.sql.shuffle.partitions") != prev
    ):
        spark.conf.set("spark.sql.shuffle.partitions", prev)


# Round budget of the distributed propagation loop. 40, not 25: the
# sf10 image rep graph (52k nodes, chain-heavy near-signature
# structure) needed >25 propagation rounds — path halving compresses
# label TREES, but a min label still walks long chains roughly linearly
# until the halved paths overlap, so the round count tracks the longest
# chain, not log(diameter), on chain-dominated graphs (round-14 probe
# finding). The stats re-base (STATS_RESET_EVERY) keeps deep runs
# plannable.
MAX_ROUNDS = 40


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    distinct_pairs: bool = False,
) -> DataFrame:
    """(node, component) where component = min node id reachable.

    ``edges`` is an undirected pair list; isolated self-loops are fine.
    Raises if the fixpoint is not reached within ``MAX_ROUNDS`` rounds
    (diameter larger than expected) rather than returning wrong labels.

    ``distinct_pairs=True`` asserts the input is already a distinct
    ``src <= dst`` pair set — no duplicate symmetric edges, self-loops
    allowed (every dedup candidate generator ends in exactly that
    distinct) — letting the symmetrization skip its safety
    ``distinct()``: one full edge-set shuffle, the largest fixed cost
    of the whole operator on big graphs. Symmetrization
    duplicates each self-loop; both solve paths are insensitive to
    duplicate edges and loops (union-find unions are idempotent; the
    propagation min is duplicate-blind), so keep that tolerance if
    either path is ever rewritten.

    Invariant maintained every round: ``component(x)`` is a node id
    reachable from ``x`` and ``component(x) <= x``. Both steps preserve
    it — neighbor-min takes the least over reachable labels, and the
    pointer jump replaces a reachable label ``y`` with ``component(y)``,
    itself reachable via ``y``. Labels are therefore monotonically
    non-increasing, so "no label changed this round" is a true fixpoint
    test and is computed from a carried ``old`` column on the already-
    materialized frame — no extra join.
    """
    sym = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).unionByName(
        edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    )
    if not distinct_pairs:
        sym = sym.distinct()
    # Strategy probe and local solve share ONE job (r18, guide §1.2):
    # pull at most cap+1 rows through the Arrow collector — if the pull
    # returns <= cap rows, it IS the complete edge set and the driver
    # union-find proceeds on it directly. The old sequence paid three
    # barrier jobs for the same decision (eager localCheckpoint, then
    # count(), then toPandas()), ~2 jobs of pure fixed latency on every
    # dedup/near-dup pipeline that ends here. A bounded cap+1 slice
    # (<= ~8 MB through the driver) is the only thing ever collected.
    # The persist caches only the partitions the probe computes: on an
    # overflow the limit may stop after a prefix of the partitions, so
    # the cache can hold part of the upstream work (often the whole
    # minhash pipeline), not all of it.
    sym = sym.persist()
    head = sym.limit(LOCAL_SOLVE_MAX_EDGES + 1).toPandas()
    if len(head) <= LOCAL_SOLVE_MAX_EDGES:
        out = _solve_local(head, sym)
        sym.unpersist(blocking=False)
        return out
    del head
    # big graph: localCheckpoint (eager) rather than persist for the
    # LOOP input — it truncates lineage, so round N's plan doesn't
    # re-derive the whole upstream query and doesn't grow with the
    # iteration count. Partitions the probe cached are read from the
    # cache; partitions it never computed are recomputed from upstream
    # here.
    ckpt = sym.localCheckpoint(eager=True)
    sym.unpersist(blocking=False)
    sym = ckpt
    n_edges = sym.count()  # cheap: sym is materialized
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint(eager=True)
    )
    # see loop_parallelism for why rounds shuffle at edge-set scale
    with loop_parallelism(edges.sparkSession, n_edges) as session_default:
        labels = _propagate(sym, labels, session_default)
    return labels


# Runtime strategy threshold, the same idea as Spark's own
# autoBroadcastJoinThreshold: a dedup graph's VERIFIED edge set is
# candidate-sized, and below this many symmetric pairs an Arrow-
# collected driver union-find beats the distributed loop's 4-6 whole
# Spark jobs of fixed latency per round. Sized by MEASUREMENT, not
# guesswork: the 1.6k-edge minhash graph solves locally in ~0.3 s vs
# ~2.1 s of loop overhead; the 195k-edge sf10 image rep graph is a
# ~3 MB Arrow pull + <1 s of union-find where the loop spent 26 s
# over 25+ rounds (round-14 probe — its chain-heavy near-sig diameter
# blew the old 100k gate's loop budget); the 3.8M-edge simhash graph
# collects so slowly (~17 s through the driver) that the loop wins.
# 500k (~8 MB pull) sits comfortably between those last two and still
# bounds the driver so nothing corpus-sized funnels through one
# process. Equality of the two paths is property-tested
# (tests/test_properties.py).
LOCAL_SOLVE_MAX_EDGES = 500_000


def _solve_local(pdf, sym: DataFrame) -> DataFrame:
    """Driver-side union-find over a small (bounded) symmetric edge
    list, already pulled to pandas by the caller's strategy probe (one
    Arrow collect serves both the size decision and the solve — r18);
    ``sym`` supplies the schema/session for the return frame. The
    return trip rides Arrow (createDataFrame-from-pandas), not
    row-at-a-time Py4J."""
    import pandas as pd

    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in zip(pdf["a"].to_list(), pdf["b"].to_list()):
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by MIN id so the root IS the component label
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    nodes = list(parent)
    out = pd.DataFrame(
        {"node": nodes, "component": [find(n) for n in nodes]}
    )
    node_type = sym.schema["a"].dataType
    out_schema = StructType(
        [
            StructField("node", node_type, False),
            StructField("component", node_type, False),
        ]
    )
    return sym.sparkSession.createDataFrame(out, out_schema)


# Re-base the label frame's plan STATISTICS every K rounds. Spark's
# ``localCheckpoint`` truncates lineage but PRESERVES the origin plan's
# statistics (LogicalRDD originStats), and every propagation round joins
# the label frame with itself twice (labels ⋈ (sym ⋈ labels), then the
# pointer-jump stepped ⋈ stepped-as-parent) — so the size-only stats
# visitor's sizeInBytes estimate SQUARES per round. Measured: bit-length
# 27 → 13 123 in 10 rounds on a 1 000-node chain. Past 2^31 bits
# java.math.BigInteger refuses to multiply and PLANNING throws
# "ArithmeticException: BigInteger would overflow supported range" —
# which is exactly how the sf10 image-dedup probe failed after ~17
# rounds on a fat upstream stats base (round-14 finding). A parquet
# spill-and-reload re-bases the statistics on real file size (labels
# are 2 longs per node — tiny next to the corpus). K=8 bounds the
# growth at ~2^8× the re-based bit length, orders of magnitude under
# the cap, while keeping 7 of 8 rounds purely in memory.
STATS_RESET_EVERY = 8


def _rebase_base_dir(spark) -> str:
    """Directory for the stats-rebase parquet round-trips. The context's
    checkpoint dir when set (the shared-FS requirement on a real
    cluster). The driver-local temp-dir fallback is ONLY correct when
    driver == executors — on a multi-node master, executors would write
    part files to their own local filesystems and the read-back would be
    partial or fail — so it is gated on a local[...] master and any
    other master without a checkpoint dir raises loudly (ADVICE r14)."""
    import tempfile

    base = spark.sparkContext.getCheckpointDir()
    if base:
        return base
    master = spark.sparkContext.master or ""
    if not master.startswith("local"):
        raise RuntimeError(
            "connected_components stats re-base needs a shared-FS "
            "checkpoint dir on a non-local master "
            f"(master={master!r}): call "
            "spark.sparkContext.setCheckpointDir('<shared path>')"
        )
    return tempfile.gettempdir()


def _delete_dir(spark, path: str) -> None:
    """Best-effort recursive delete through the Hadoop FileSystem API —
    works for both the local-tempdir fallback and a shared-FS checkpoint
    dir (where Spark does NOT clean non-RDD-checkpoint files and deep
    runs would otherwise leak one dir per STATS_RESET_EVERY rounds,
    ADVICE r14)."""
    try:
        jvm = spark.sparkContext._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(
            spark.sparkContext._jsc.hadoopConfiguration()
        )
        fs.delete(jpath, True)
    except Exception:  # cleanup must never fail the computation
        pass


def _rebase_stats(df: DataFrame, round_no: int) -> tuple[DataFrame, str]:
    """Parquet round-trip that resets compounding plan statistics (see
    STATS_RESET_EVERY); returns (rebased frame, written path) so the
    caller can delete the path once a later round has re-materialized
    the labels (the caller owns the lifecycle; one live dir at a time)."""
    import uuid

    spark = df.sparkSession
    base = _rebase_base_dir(spark)
    path = f"{base}/cc_stats_rebase_{round_no}_{uuid.uuid4().hex[:12]}"
    df.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path), path


def _propagate(
    sym: DataFrame,
    labels: DataFrame,
    session_default: str | None = None,
) -> DataFrame:
    from pyspark.sql import Observation

    spark = sym.sparkSession
    if session_default is None:
        session_default = spark.conf.get("spark.sql.shuffle.partitions")
    # at most one stats-rebase parquet dir is live at a time: a new
    # rebase (or the fixpoint) deletes the previous one — by then the
    # labels frame has been eagerly localCheckpoint-ed in a LATER round,
    # so nothing reads the old files anymore (ADVICE r14 leak fix)
    live_rebase_path: str | None = None
    for _round in range(MAX_ROUNDS):
        guard_parallelism(spark, session_default)
        # candidate label for each node: min over its own and neighbors'
        neighbor_min = (
            sym.join(labels, sym.b == labels.node)
            .groupBy(sym.a.alias("node"))
            .agg(F.min("component").alias("nbr_min"))
        )
        stepped = labels.join(neighbor_min, "node", "left").select(
            "node",
            F.least(
                F.col("component"), F.coalesce("nbr_min", F.col("component"))
            ).alias("component"),
            F.col("component").alias("old"),
        )
        # pointer jump (path halving): component := component(component).
        # Every label is itself a node (labels start as node ids and only
        # ever take values from other labels), so the parent lookup hits;
        # the left join + coalesce is belt-and-braces for labels whose
        # parent row isn't materialized yet this round. (A second jump
        # per round was measured: it cuts no wall time here — the round
        # count drops but each round carries one more join's fixed job
        # latency, a wash on label-hop diameters this size.)
        parent = stepped.select(
            F.col("node").alias("p_node"), F.col("component").alias("p_comp")
        )
        # labels only decrease, so any change shows as component < old.
        # The change count rides the SAME job that materializes the
        # checkpoint via observe() — one job per round, not two (the
        # separate post-checkpoint count() was ~0.1-0.3 s of fixed job
        # latency per round in local mode, pure overhead at every scale
        # since the metric is a map-side sum).
        obs = Observation()
        new_labels = (
            stepped.join(parent, stepped.component == parent.p_node, "left")
            .select(
                "node",
                F.coalesce("p_comp", "component").alias("component"),
                "old",
            )
            .observe(
                obs,
                F.sum(
                    (F.col("component") < F.col("old")).cast("long")
                ).alias("changed"),
            )
            .localCheckpoint(eager=True)
        )
        # SUM over zero rows is NULL: coalesce so an empty labels frame
        # reads as converged instead of spinning to MAX_ROUNDS (ADVICE r7;
        # reachable only if the local-solve edge gate is tuned away).
        changed = obs.get["changed"] or 0
        labels = new_labels.select("node", "component")
        if changed == 0:
            break
        if (_round + 1) % STATS_RESET_EVERY == 0:
            labels, new_path = _rebase_stats(labels, _round + 1)
            if live_rebase_path is not None:
                _delete_dir(spark, live_rebase_path)
            live_rebase_path = new_path
    else:
        raise RuntimeError(f"no fixpoint after {MAX_ROUNDS} rounds")
    if live_rebase_path is not None:
        # the break round eagerly localCheckpoint-ed AFTER the last
        # rebase's read jobs completed, so the dir is no longer read
        _delete_dir(spark, live_rebase_path)
    return labels
