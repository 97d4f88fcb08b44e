"""Log-pipeline parity queries — the reference's parse → template →
trace → feature → sessionize chain (SURVEY §2.1-§2.4, §7 Phases 1-2),
exercised on the driver's deterministic ``events``/``documents`` tables.

Raw log *lines* are synthesized deterministically from ``events`` inside
the query itself (identically in Spark and in the DuckDB oracle), so the
parser is checked end-to-end without inventing side-channel inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.logparse import parse_log_lines
from ..functions.templates import tag_events
from ..operators.features import feature_counts_pivot
from ..operators.sessionize import sessionize
from . import register

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

# Template dim for the documents table — same [*] wildcard shape as the
# reference's HDFS.log_templates.csv; overlapping patterns (a doc can
# match several) pin down the first-match-wins precedence decision
# (SURVEY §2.9 Skew-1).
DOC_TEMPLATES = [
    ("E1", "spark[*]join"),
    ("E2", "group[*]window"),
    ("E3", "scan[*]merge"),
    ("E4", "stream"),
    ("E5", "filter"),
]


def _raw_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LogHub-HDFS-shaped lines built from events: deterministic, same
    construction as the oracle's CTE."""
    ev = load_table(spark, sf_dir, "events")
    level = (
        F.when(F.col("event_type") == "error", "ERROR")
        .when(F.col("event_type") == "signup", "WARN")
        .otherwise("INFO")
    )
    line = F.concat_ws(
        " ",
        F.date_format("ts", "yyMMdd HHmmss"),
        F.col("user_id").cast("string"),
        level,
        F.lit("dfs.DataNode$DataXceiver:"),
        F.concat(
            F.lit("Receiving block blk_-"),
            F.col("event_id").cast("string"),
            F.lit(" src: /10.0.0."),
            F.col("user_id").cast("string"),
        ),
    )
    return ev.select(line.alias("value"))


_RAW_LINES_SQL = """
    SELECT strftime(ts, '%y%m%d %H%M%S') || ' ' || CAST(user_id AS VARCHAR)
           || ' '
           || (CASE WHEN event_type = 'error' THEN 'ERROR'
                    WHEN event_type = 'signup' THEN 'WARN'
                    ELSE 'INFO' END)
           || ' dfs.DataNode$DataXceiver: Receiving block blk_-'
           || CAST(event_id AS VARCHAR)
           || ' src: /10.0.0.' || CAST(user_id AS VARCHAR) AS value
    FROM events
"""


@register(
    "parse_raw_logs",
    oracle=f"""
    WITH raw AS ({_RAW_LINES_SQL})
    SELECT strptime(regexp_extract(value, '^(\\d{{6}}\\s+\\d{{6}})', 1),
                    '%y%m%d %H%M%S') AS datetime,
           CAST(nullif(regexp_extract(value, '^\\d{{6}}\\s+\\d{{6}}\\s+(\\d+)', 1),
                       '') AS INTEGER) AS pid,
           nullif(regexp_extract(value, '\\b(INFO|WARN|ERROR|DEBUG|FATAL)\\b', 1),
                  '') AS level,
           nullif(regexp_extract(value,
                                 '\\b(?:INFO|WARN|ERROR|DEBUG|FATAL)\\s+([^\\s:]+):',
                                 1), '') AS component,
           nullif(regexp_extract(value, ':\\s+(.*)$', 1), '') AS message,
           nullif(regexp_extract(value, '(blk_[\\-0-9]+)', 1), '') AS block_id
    FROM raw
    """,
    tags=("logparse", "P1", "F1", "F4"),
)
def parse_raw_logs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return parse_log_lines(_raw_lines(spark, sf_dir)).drop("value")


@register(
    "sessionize_events",
    oracle="""
    SELECT user_id,
           min(ts) AS start_ts,
           max(ts) AS end_ts,
           CAST(floor(epoch(max(ts))) AS BIGINT)
             - CAST(floor(epoch(min(ts))) AS BIGINT) AS duration_sec,
           count(*) AS num_lines,
           string_agg(event_type, chr(10) ORDER BY ts, event_type) AS log_full
    FROM events
    GROUP BY user_id
    """,
    tags=("sessionize", "A3", "A4"),
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: the reference's block sessionization (cells 26-29)
    keyed by user_id over the events stream table."""
    ev = load_table(spark, sf_dir, "events")
    return sessionize(ev, key_col="user_id", ts_col="ts", line_col="event_type")


@register(
    "event_traces_users",
    oracle="""
    SELECT user_id,
           string_agg(event_type, ',' ORDER BY ts, event_id) AS trace,
           count(*) AS n_events
    FROM events
    GROUP BY user_id
    """,
    tags=("trace", "A1"),
)
def event_traces_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 with the determinism fix: the reference's collect_list order is
    undefined (window declared, never applied — nb:345); we sort by
    (ts, unique event_id) before joining."""
    ev = load_table(spark, sf_dir, "events")
    sortable = F.struct("ts", "event_id", F.col("event_type").alias("_e"))
    return ev.groupBy("user_id").agg(
        F.array_join(
            F.transform(F.sort_array(F.collect_list(sortable)), lambda x: x["_e"]),
            ",",
        ).alias("trace"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "feature_counts_events",
    oracle="""
    SELECT user_id,
           CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS INTEGER) AS click,
           CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS INTEGER) AS error,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS INTEGER) AS purchase,
           CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS INTEGER) AS signup,
           CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS INTEGER) AS view
    FROM events
    GROUP BY user_id
    """,
    tags=("features", "A2", "A11"),
)
def feature_counts_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/A11: the E1..E29 per-key count table, as one groupBy with a
    conditional count per explicit value (static plan, one shuffle of
    map-side partial counts — the 100 TB-friendly form of the
    reference's 29 HOF withColumns)."""
    ev = load_table(spark, sf_dir, "events")
    return feature_counts_pivot(ev, "user_id", "event_type", EVENT_TYPES)


def _doc_tag_case_sql() -> str:
    from ..functions.templates import compile_template_regex

    whens = "\n           ".join(
        f"WHEN regexp_matches(text, '{compile_template_regex(t)}') THEN '{eid}'"
        for eid, t in DOC_TEMPLATES
    )
    return f"CASE {whens} ELSE NULL END"


@register(
    "template_tag_docs",
    oracle=f"""
    SELECT doc_id,
           {_doc_tag_case_sql()} AS event_id
    FROM documents
    """,
    tags=("templates", "F2", "F7", "F16"),
)
def template_tag_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2/F7/F16: [*]-wildcard templates compiled driver-side into ONE
    first-match-wins CASE WHEN rlike chain (engine's Skew-1 decision)."""
    docs = load_table(spark, sf_dir, "documents")
    return tag_events(docs, DOC_TEMPLATES, message_col="text").select(
        "doc_id", "event_id"
    )


@register(
    "word_histogram_docs",
    oracle="""
    SELECT word, count(*) AS n
    FROM (SELECT unnest(string_split_regex(trim(text), ' +')) AS word
          FROM documents)
    GROUP BY word
    ORDER BY n DESC, word
    LIMIT 20
    """,
    tags=("explode", "A11", "F11"),
)
def word_histogram_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11's explode(split(...)) + count shape: per-token histogram."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split(F.trim("text"), " +")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "word")
        .limit(20)
    )
