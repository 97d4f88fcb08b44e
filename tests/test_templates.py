"""Template-precedence semantics (SURVEY §2.9 Skew-1, hard-part 2).

The reference has THREE precedence behaviors: batch notebook = last
match wins, stream transform = last wins, stream predict = FIRST wins.
This engine standardizes on first-match-wins in template-file order;
these tests pin that on inputs matching ≥2 templates (the real overlap:
HDFS.log_templates.csv's addStoredBlock family, E26-E28).
"""

from __future__ import annotations

import re

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from log_analysis_bigdata_spark.functions.templates import (
    compile_template_regex,
    event_id_expr,
    tag_events,
)

# E26/E27/E28-style overlap: E26's bare prefix matches every line the
# two more specific templates match.
OVERLAP = [
    ("E26", "[*]addStoredBlock[*]"),
    ("E27", "[*]addStoredBlock: blockMap updated:[*]"),
    ("E28", "[*]addStoredBlock: Redundant addStoredBlock request[*]"),
]


def test_first_match_wins_on_overlap(spark):
    df = spark.createDataFrame(
        [
            (1, "NameSystem.addStoredBlock: blockMap updated: 10.0.0.1 is added"),
            (2, "NameSystem.addStoredBlock: Redundant addStoredBlock request"),
            (3, "no template matches this"),
        ],
        ["id", "message"],
    )
    out = {r["id"]: r["event_id"] for r in tag_events(df, OVERLAP).collect()}
    # both lines match E26 AND a more specific template; file order wins
    assert out[1] == "E26" and out[2] == "E26"
    assert out[3] is None  # null → filtered by P3 downstream

    # reversed file order → the specific templates win, proving order
    # (not specificity) decides — the semantics we standardized on
    rev = {r["id"]: r["event_id"]
           for r in tag_events(df, list(reversed(OVERLAP))).collect()}
    assert rev[1] == "E27" and rev[2] == "E28"


def test_wildcard_compile_unanchored(spark):
    pat = compile_template_regex("Received block[*]of size[*]from[*]")
    df = spark.createDataFrame(
        [("prefix Received block blk_1 of size 5 from /10.0.0.1 suffix",)],
        ["message"],
    )
    assert df.filter(F.col("message").rlike(pat)).count() == 1
    # regex metachars in templates are escaped, not interpreted
    assert compile_template_regex("a.b[*]c").startswith("a\\.b")


def test_single_expression_not_stacked_withcolumns(spark):
    """Plan hygiene (SURVEY §4 plan-size hazard): the 29-template chain
    must be ONE nested CASE WHEN expression, not 29 projections."""
    templates = [(f"E{i}", f"pattern{i}[*]") for i in range(1, 30)]
    df = spark.createDataFrame([("x",)], ["message"])
    tagged = tag_events(df, templates)
    plan = tagged._jdf.queryExecution().optimizedPlan().toString()
    # one Project node containing the whole chain
    assert plan.count("Project") == 1


# leading, trailing, interior and only-wildcard templates, with regex
# metacharacters in the literal text; the differential test also runs
# OVERLAP
WILDCARDS = [
    ("L", "[*]addStoredBlock"),
    ("T", "blockMap updated:[*]"),
    ("I", "Received[*]of size"),
    ("LIT", "[*]a.b[*]c[*]"),
    ("LL", "[*][*]request[*][*]"),
    ("W", "[*]"),
    ("WW", "[*][*]"),
    ("N", "of size"),
]

_TOKENS = ["", " ", ":", "\n", "\r", ".", "a", "b", "c", "x", "addStoredBlock",
           "blockMap", "updated", "Received", "of", "size", "request"]


def _wrapped(template: str) -> str:
    """The untrimmed compilation: every ``[*]``, outer ones included,
    becomes ``.*``."""
    return re.escape(template).replace(re.escape("[*]"), ".*")


@given(
    messages=st.lists(
        st.lists(st.sampled_from(_TOKENS), max_size=12).map("".join),
        min_size=1,
        max_size=60,
    )
)
@settings(max_examples=3, deadline=None)
def test_trimmed_regex_matches_wrapped(spark, messages):
    """Under rlike's unanchored find, dropping the outer ``.*`` changes
    no match: both patterns of every template agree on every message
    (one Spark job per example)."""
    templates = WILDCARDS + OVERLAP
    df = spark.createDataFrame([(m,) for m in ["", *messages]], ["message"])
    msg = F.col("message")
    cols = []
    for i, (_, t) in enumerate(templates):
        cols += [msg.rlike(compile_template_regex(t)).alias(f"t{i}"),
                 msg.rlike(_wrapped(t)).alias(f"w{i}")]
    for r in df.select("message", *cols).collect():
        for i, (eid, _) in enumerate(templates):
            assert r[f"t{i}"] == r[f"w{i}"], (eid, r["message"])


def test_compiled_patterns_have_no_outer_wildcard():
    for _, t in WILDCARDS + OVERLAP:
        pat = compile_template_regex(t)
        assert not pat.startswith(".*"), (t, pat)
        # a trailing ".*" preceded by an even run of backslashes is a wildcard
        if pat.endswith(".*"):
            slashes = len(pat[:-2]) - len(pat[:-2].rstrip("\\"))
            assert slashes % 2 == 1, (t, pat)
    assert compile_template_regex("[*]a[*]b[*]") == "a.*b"
    assert compile_template_regex("BLOCK*[*]") == "BLOCK\\*"
    assert compile_template_regex("[*]") == ""
