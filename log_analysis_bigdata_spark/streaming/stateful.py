"""Custom stateful streaming operator: running block sessions via
``applyInPandasWithState``.

The reference's consumer is stateless per message (kafka_consumer.py:27-40)
— every message carries a whole session. The genuinely-new capability a
streaming engine adds (SURVEY §7 Phase 5 / hard-part 6) is *incremental*
sessions: log lines for one block arrive across many micro-batches and
the per-block aggregate (count, first/last timestamp) must survive
between triggers. That is exactly Spark's arbitrary-stateful-processing
contract: group by key, keep a typed state struct per key, update it with
each micro-batch's Arrow batch, expire it on timeout.

Scale shape: state lives in the state store partitioned by block_id —
1000 executors each own their hash range, no driver involvement; the
per-key state here is 4 scalars, so 10⁹ live blocks ≈ tens of GB spread
over the cluster. Idle keys are reaped by the processing-time timeout
(the watermark-driven eviction the reference declared but never enforced,
config.py:25).
"""

from __future__ import annotations

from typing import Any, Iterable, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

RUNNING_SESSION_OUTPUT = StructType(
    [
        StructField("block_id", StringType()),
        StructField("n_lines", LongType()),
        StructField("start_ts_us", LongType()),
        StructField("end_ts_us", LongType()),
        StructField("n_updates", LongType()),
    ]
)

# state: (n_lines, start_us, end_us, n_updates)
RUNNING_SESSION_STATE = StructType(
    [
        StructField("n", LongType()),
        StructField("start_us", LongType()),
        StructField("end_us", LongType()),
        StructField("updates", LongType()),
    ]
)


def _update_session(
    key: Tuple[Any, ...],
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterable[pd.DataFrame]:
    """Merge this micro-batch's lines for one block into its state and
    emit the updated running-session snapshot."""
    n = n_add = 0
    lo = hi = None
    for pdf in pdfs:
        ts = pdf["ts_us"]
        n_add += len(pdf)
        if len(pdf):
            mn, mx = int(ts.min()), int(ts.max())
            lo = mn if lo is None else min(lo, mn)
            hi = mx if hi is None else max(hi, mx)

    if state.exists:
        n, s_lo, s_hi, updates = state.get
        lo = s_lo if lo is None else min(lo, s_lo)
        hi = s_hi if hi is None else max(hi, s_hi)
    else:
        updates = 0

    n += n_add
    updates += 1
    state.update((n, lo, hi, updates))

    yield pd.DataFrame(
        {
            "block_id": [key[0]],
            "n_lines": [n],
            "start_ts_us": [lo],
            "end_ts_us": [hi],
            "n_updates": [updates],
        }
    )


EWMA_OUTPUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("ewma", DoubleType()),
    ]
)

# state: (running ewma, n events folded, last (ts_us, event_id) folded)
EWMA_STATE = StructType(
    [
        StructField("ewma", DoubleType()),
        StructField("n", LongType()),
        StructField("last_ts_us", LongType()),
        StructField("last_event_id", LongType()),
    ]
)

EWMA_ALPHA = 0.3


def _update_ewma(
    key: Tuple[Any, ...],
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterable[pd.DataFrame]:
    """Fold this micro-batch's values for one user into the running EWMA.

    Rows are folded in (ts_us, event_id) order WITHIN the batch; across
    batches the fold continues from the stored scalar. Correctness
    therefore assumes per-key in-order arrival across batches (the
    standard contract for a fold without event-time buffering — same
    assumption the reference's consumer makes per message). The state is
    O(1) per key: one double + three longs, never the key's history —
    this is the unbounded-key rendering the batch ewma_user_value
    docstring promises.
    """
    batch = pd.concat(list(pdfs), ignore_index=True)
    batch = batch.sort_values(["ts_us", "event_id"], kind="mergesort")

    if state.exists:
        ewma, n, last_ts, last_eid = state.get
    else:
        ewma, n, last_ts, last_eid = None, 0, -1, -1

    for ts_us, eid, v in zip(batch["ts_us"], batch["event_id"], batch["value"]):
        v = float(v)
        ewma = v if ewma is None else EWMA_ALPHA * v + (1.0 - EWMA_ALPHA) * ewma
        n += 1
        last_ts, last_eid = int(ts_us), int(eid)

    state.update((ewma, n, last_ts, last_eid))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "ewma": [ewma]}
    )


def ewma_user_values(events: DataFrame) -> DataFrame:
    """Streaming per-user EWMA (α=0.3) via ``applyInPandasWithState`` —
    the unbounded-key twin of queries/relational.py:ewma_user_value.

    The batch rendering keeps each key's whole event array in the agg
    buffer (fine while per-entity history is bounded); this one keeps
    only the running scalar in the state store, so a key with a year of
    events costs the same 28 bytes as a key with one. State is hash-
    partitioned by user_id across executors; outputMode must be
    ``update`` (each trigger re-emits the keys it touched).

    Input: streaming DataFrame with user_id, ts (timestamp), event_id,
    value.
    """
    from pyspark.sql import functions as F

    keyed = events.select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "event_id",
        F.col("value").cast("double").alias("value"),
    )
    return keyed.groupBy("user_id").applyInPandasWithState(
        _update_ewma,
        outputStructType=EWMA_OUTPUT,
        stateStructType=EWMA_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def running_block_sessions(parsed_lines: DataFrame) -> DataFrame:
    """Parsed log lines (streaming) → per-block running session rows.

    Input needs ``block_id`` and ``datetime`` (timestamp); each trigger
    emits one updated snapshot row per block seen in that batch
    (outputMode must be ``update``). Timestamps travel as epoch micros in
    the state struct — scalars, not arrays, so state stays O(1) per key
    no matter how many lines a block accumulates (the full-text variant
    of sessionization stays a batch concern; SURVEY A3/A4).
    """
    from pyspark.sql import functions as F

    keyed = parsed_lines.select(
        "block_id",
        (F.unix_micros(F.col("datetime"))).alias("ts_us"),
    )
    return keyed.groupBy("block_id").applyInPandasWithState(
        _update_session,
        outputStructType=RUNNING_SESSION_OUTPUT,
        stateStructType=RUNNING_SESSION_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


TOPK_OUTPUT = StructType(
    [
        StructField("group_key", StringType()),
        StructField("item", LongType()),
        StructField("est_count", LongType()),
        StructField("max_err", LongType()),
        # total items folded into this group so far (Σ est_count — the
        # space-saving invariant): strictly monotone across emissions,
        # so an update-mode sink can pick the group's FINAL snapshot as
        # the rows with max n_seen (queries/streamq.py relies on this)
        StructField("n_seen", LongType()),
    ]
)

# state: parallel arrays of the m monitored (item, count, err) triples —
# the space-saving summary, O(m) per group regardless of stream length
TOPK_STATE = StructType(
    [
        StructField("items", ArrayType(LongType())),
        StructField("counts", ArrayType(LongType())),
        StructField("errs", ArrayType(LongType())),
    ]
)

TOPK_M = 16  # monitored counters per group


def _update_topk(
    key: Tuple[Any, ...],
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterable[pd.DataFrame]:
    """Space-saving (Metwally et al.) update for one group: fold the
    micro-batch's items into the m monitored counters; an unmonitored
    item evicts the current minimum, inheriting its count as error
    bound. Guarantees: est_count ∈ [true, true + max_err], and any item
    with true count > N/m is monitored. State is O(m) scalars per group
    — the whole point vs the exact per-item count map, which is
    unbounded in distinct items.
    """
    if state.exists:
        items, counts, errs = (list(a) for a in state.get)
        summary = {i: (c, e) for i, c, e in zip(items, counts, errs)}
    else:
        summary = {}

    for pdf in pdfs:
        # exact within-batch pre-aggregation (cheap, vectorized), then
        # fold distinct items into the bounded summary
        for item, n in pdf["item"].value_counts().items():
            item, n = int(item), int(n)
            if item in summary:
                c, e = summary[item]
                summary[item] = (c + n, e)
            elif len(summary) < TOPK_M:
                summary[item] = (n, 0)
            else:
                evict = min(summary, key=lambda k: (summary[k][0], -k))
                c_min = summary[evict][0]
                del summary[evict]
                summary[item] = (c_min + n, c_min)

    ordered = sorted(summary.items(), key=lambda kv: (-kv[1][0], kv[0]))
    state.update((
        [i for i, _ in ordered],
        [c for _, (c, _) in ordered],
        [e for _, (_, e) in ordered],
    ))
    n_seen = sum(c for _, (c, _) in ordered)  # Σ counts == items folded
    yield pd.DataFrame(
        {
            "group_key": key[0],
            "item": [i for i, _ in ordered],
            "est_count": [c for _, (c, _) in ordered],
            "max_err": [e for _, (_, e) in ordered],
            "n_seen": n_seen,
        }
    )


def streaming_topk_items(events: DataFrame, group_col: str, item_col: str) -> DataFrame:
    """Streaming heavy hitters per group — the incremental counterpart
    of queries/relational.py:heavy_hitters_topk, whose batch form is an
    exact groupBy-count.

    Each group keeps a space-saving summary of TOPK_M counters in the
    state store; every trigger folds only that batch's items and re-emits
    the group's current summary (outputMode update). At 100 TB/day the
    state is #groups × m triples — constant per group while the exact
    alternative grows with distinct items; the emitted est_count/max_err
    pair makes the approximation auditable downstream (est − err ≤ true
    ≤ est). Exactness caveat: counts are exact whenever the group's
    distinct items ≤ m — the regime the replay test pins.
    """
    from pyspark.sql import functions as F

    keyed = events.select(
        F.col(group_col).cast("string").alias("group_key"),
        F.col(item_col).cast("long").alias("item"),
    )
    return keyed.groupBy("group_key").applyInPandasWithState(
        _update_topk,
        outputStructType=TOPK_OUTPUT,
        stateStructType=TOPK_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
