"""Query registry: every operator from SURVEY §2 (plus the LLM-data-
pipeline operators) exposed as a named (spark_fn, oracle_sql) pair.

``spark_fn(spark, sf_dir) -> DataFrame`` is the engine's DataFrame-first
implementation; ``oracle`` is the ANSI-SQL equivalent DuckDB runs on the
same parquet tables for the driver's correctness gate. Column names and
aliases MUST match pairwise — the driver sorts columns by name before
value-hashing.

Determinism rules applied throughout (so Spark and DuckDB hash-match):
- every ``LIMIT`` is preceded by a total order (unique tiebreaker column);
- money sums are compared as per-item integer cents
  (``CAST(sum(CAST(round(x*100) AS BIGINT)) AS BIGINT)``): integer addition is
  order-independent, so Spark's run-to-run partial-agg order can't flip
  a total that lands on a half-cent boundary (rounding the double TOTAL
  can — 4-decimal products like price·(1−disc) have true cent values at
  exact .5);
- averages/ratios are ``round(x, 4)``;
- epoch math uses floor-to-second semantics on both sides
  (Spark ``cast(ts as long)`` == DuckDB ``CAST(floor(epoch(ts)) AS BIGINT)``);
- array aggregations are sorted with explicit tiebreakers before joining.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QueryDef:
    name: str
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, QueryDef] = {}


def register(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        REGISTRY[name] = QueryDef(name=name, spark=fn, oracle=oracle, tags=tags)
        return fn

    return deco


_LOADED = False

# The correctness driver evaluates only the FIRST 50 registry entries per
# round, so ordering is evidence policy: queries that still need a driver
# verdict go first, already-green ones last (their earlier verdicts stand
# on file; tests/test_driver_session.py CI-enforces the rotation — no
# latest verdict may age past 4 rounds). The window literal below is
# GENERATED: run `python tools/rotate_window.py --write [--pin a,b]` at
# round open (it recomputes the forced head from the committed
# CORRECTNESS_r*.json history, pins caller-named code-change re-verdicts,
# and pre-fills the rest oldest-verdict-first to smooth future rounds).
# Entries past the 50-slot window keep their earlier green verdicts; the
# full local parity sweep for ALL registry entries is still re-run per
# round (tests/test_oracle_parity.py — every entry plus the flagship
# entry()).
# --- BEGIN DRIVER WINDOW (generated by tools/rotate_window.py) ---
# Round-19 window: 21 forced (age cap / never-verdicted),
# 28 code-change re-verdict pins, 1 oldest-first pre-fills.
_DRIVER_WINDOW = (
    # (1) forced: needing a r19 verdict (registry order)
    "text_quality_docs",
    "token_counts_docs",
    "quality_filter_docs",
    "simhash_text_docs",
    "tokenizer_fertility_by_lang",
    "source_cap_sample",
    "sessionize_events",
    "q6_forecast_revenue",
    "q7_nation_volume",
    "session_flow_top_transitions",
    "retention_cohort_weeks",
    "variant_props_stats",
    "serving_by_key",
    "serving_time_range",
    "serving_high_score",
    "serving_delete",
    "stream_dedup_blocks",
    "stream_topk_user_event_types",
    "q8_market_share",
    "q9_profit_by_nation",
    "simhash_buckets",
    # (2) pinned re-verdicts: code changed this round
    "semdedup_embedding_cells",
    "kmeans_step_shift",
    "ivf_topk",
    "ivf_topk_nprobe",
    "ivfpq_topk",
    "ivfpq_knn_join",
    "ivfpq_index_append",
    "pagerank_supplier_graph",
    "minhash_dup_pairs",
    "simhash_dup_groups",
    "multimodal_ppm_pixel_stats",
    "multimodal_bmp_pixel_stats",
    "multimodal_gif_pixel_stats",
    "multimodal_png_pixel_stats",
    "multimodal_jpeg_block_stats",
    "multimodal_jpeg_color_stats",
    "multimodal_jpeg_422_stats",
    "multimodal_wav_pcm_stats",
    "multimodal_avi_frame_stats",
    "image_near_dup_components",
    "simhash_near_components",
    "simhash_near_pairs",
    "dedup_pipeline_docs",
    "dedup_components",
    "dup_cluster_size_histogram",
    "feature_counts_events",
    "constant_columns_detect",
    "ml_lr_train_confusion",
    # (3) pre-fills: verdicts aging out soonest, alphabetical
    "ann_bucketed_topk",
)
# --- END DRIVER WINDOW ---


def all_queries() -> dict[str, QueryDef]:
    global _LOADED
    if not _LOADED:
        from . import (  # noqa: F401
            corpusq,
            graphq,
            layoutq,
            logq,
            mlq,
            multimodalq,
            pandasq,
            relational,
            servingq,
            streamq,
            textq,
            tpchq,
            vectorq,
        )

        # a typo in the hand-rotated window must be LOUD, not a silent
        # slot giveaway to an arbitrary already-green entry (code-review
        # r9): every window name must resolve, and exactly 50 must lead
        unknown = set(_DRIVER_WINDOW) - set(REGISTRY)
        if unknown:  # real raise, not assert: must survive python -O
            raise ValueError(f"_DRIVER_WINDOW names not in registry: {unknown}")
        if not (len(set(_DRIVER_WINDOW)) == len(_DRIVER_WINDOW) == 50):
            raise ValueError("driver window must hold exactly 50 distinct names")
        ordered = {name: REGISTRY[name] for name in _DRIVER_WINDOW}
        for name, qd in REGISTRY.items():
            ordered.setdefault(name, qd)
        REGISTRY.clear()
        REGISTRY.update(ordered)
        _LOADED = True
    return REGISTRY
