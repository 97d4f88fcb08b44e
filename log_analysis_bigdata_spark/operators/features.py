"""Event traces and per-key feature counts — reference A1/A2/A9-A11.

- Traces: ``prepare_data_batch.ipynb:345-355 (cell 8)`` does
  ``groupBy(BlockId).agg(collect_list(EventId))`` with a window spec that
  is declared but never applied, so list order is undefined (SURVEY §2.9).
  We always sort: ``sort_array(collect_list(struct(ts, seq, eid)))`` then
  project the EventId — deterministic traces (hard-part #3).
- Counts: ``prepare_data_batch.ipynb:401-408 (cell 9)`` builds 29 chained
  ``withColumn(aggregate(filter(...)))`` higher-order-function columns.
  We provide both semantically-equal forms and cross-check them in tests:
  (a) the HOF form as one single select (no 29-deep plan nesting — the
  reference's plan hazard, SURVEY §4), which serves the speed layer
  (streaming.job.message_features counts each message's own EventId
  array, no shuffle), and (b) a one-shuffle conditional count,
  ``groupBy(key).agg(count(when(event = e, 1)) per e)``, which serves the
  batch layer: map-side partial counts per key instead of shipping whole
  event arrays. It is the oracle's ``sum(CASE WHEN …)`` shape. A
  ``groupBy().pivot()`` would shuffle twice (partial counts on
  (key, event), then the pivot on key); (b) keeps the name
  ``feature_counts_pivot`` only because its importers call it that.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def event_traces(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    event_col: str,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """(key, event_seq: array<string>) with deterministic chronological
    order; rows with null event ids are dropped first (P3,
    ``prepare_data_batch.ipynb:348``)."""
    tie = [F.col(tiebreak_col)] if tiebreak_col else []
    sortable = F.struct(F.col(ts_col), *tie, F.col(event_col).alias("_e"))
    return (
        df.filter(F.col(event_col).isNotNull())
        .groupBy(F.col(key_col))
        .agg(
            F.transform(
                F.sort_array(F.collect_list(sortable)), lambda x: x["_e"]
            ).alias("event_seq")
        )
    )


def feature_counts_pivot(
    df: DataFrame,
    key_col: str,
    event_col: str,
    event_ids: Sequence[str],
) -> DataFrame:
    """Wide per-key count table: one int column per id in ``event_ids``.

    One shuffle: ``count(when(event = e, 1))`` per id in a single
    ``groupBy(key).agg``. The explicit ``event_ids`` list fixes the
    column set, so an event that never occurs is a column of 0s. Rows
    with a null event are dropped first, as ``event_traces`` does.
    """
    event = F.col(event_col)
    return (
        df.filter(event.isNotNull())
        .groupBy(F.col(key_col))
        .agg(*[F.count(F.when(event == e, 1)).cast("int").alias(e) for e in event_ids])
    )


def feature_counts_hof(
    traces: DataFrame,
    key_col: str,
    seq_col: str,
    event_ids: Sequence[str],
) -> DataFrame:
    """The reference's HOF-count form (A2) authored as ONE projection:
    ``size(filter(seq, x -> x = e))`` per event id — semantically equal
    to its ``aggregate(filter(...), 0, acc+1)`` but without 29 stacked
    withColumns."""
    def eq(e: str):
        # closure factory: a 2-arg lambda would receive (element, index)
        return lambda x: x == F.lit(e)

    return traces.select(
        F.col(key_col),
        *[
            F.size(F.filter(F.col(seq_col), eq(e))).cast("int").alias(e)
            for e in event_ids
        ],
    )
