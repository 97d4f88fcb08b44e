"""Event-template matching — the reference's F2/F7/F16 operators.

The reference keeps 29 ``(EventId, EventTemplate)`` rows with ``[*]``
wildcards (``jobs/stream_layer/HDFS.log_templates.csv``) and has *three*
divergent matching semantics (SURVEY §2.9 Skew-1/2):

- batch notebook: 29 chained ``withColumn(when(rlike))`` where the LAST
  matching template wins (``prepare_data_batch.ipynb:291-300``);
- stream transform: pandas mask loop, also last-wins
  (``jobs/stream_layer/transform.py:44-47``);
- stream predict: first match wins via ``break``
  (``jobs/stream_layer/ML_predict.py:57-63``).

Engine decision (documented in SURVEY §2.9): ONE semantic —
**first-match-wins in template-file order**, expressed as a single
``CASE WHEN`` chain. That is ``ML_predict``'s behavior and the cheapest
plan shape in Spark: one coalesced expression instead of 29 stacked
projections (the reference's plan-authoring hazard, SURVEY §4).

Template → regex compilation follows ``prepare_data_batch.ipynb:282-286``:
``re.escape`` the literal text, then turn escaped ``[*]`` into ``.*``,
matched unanchored against the message (batch semantic, Skew-2 decision).
Leading and trailing ``[*]`` are dropped first. ``rlike`` is an unanchored
find, so an outer ``.*`` never changes whether a line matches, but on a
line the template does not match it makes the engine retry the ``.*`` from
every start offset: O(len²) backtracking per (line, template) pair, paid
29 times per unmatched line.
"""

from __future__ import annotations

import re
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


_WILDCARD = "[*]"


def compile_template_regex(template: str) -> str:
    """``[*]`` wildcard template → unanchored regex string.

    Interior wildcards become ``.*``; leading and trailing ones are
    stripped. Under an unanchored find ``.*X.*`` matches exactly the
    lines ``X`` matches (``.`` skips line terminators, but a find may
    start and stop anywhere), and the outer ``.*`` only costs O(len²)
    backtracking on every line that does not match.
    """
    while template.startswith(_WILDCARD):
        template = template[len(_WILDCARD):]
    while template.endswith(_WILDCARD):
        template = template[: -len(_WILDCARD)]
    return re.escape(template).replace(re.escape(_WILDCARD), ".*")


def event_id_expr(
    templates: Sequence[tuple[str, str]], message: Column
) -> Column:
    """Single CASE-WHEN chain tagging a message with its first matching
    EventId (null when no template matches — P3 then filters those,
    ``prepare_data_batch.ipynb:348``).

    ``templates`` is [(event_id, template_text), ...] in file order;
    the list is driver-side (29 rows) so this is constant folding, not a
    join — the same choice the reference makes by collecting the template
    dim to the driver (``prepare_data_batch.ipynb:291 (cell 7)``).
    """
    expr: Column = F.lit(None).cast("string")
    for eid, tmpl in reversed(list(templates)):
        expr = F.when(message.rlike(compile_template_regex(tmpl)), F.lit(eid)).otherwise(expr)
    return expr


def tag_events(
    df: DataFrame,
    templates: Sequence[tuple[str, str]],
    message_col: str = "message",
    out_col: str = "event_id",
) -> DataFrame:
    """Attach the first-match-wins EventId column."""
    return df.withColumn(out_col, event_id_expr(templates, F.col(message_col)))
