"""SQL fragments: shared expressions rendered as Spark SQL text and parsed
JVM-side by one ``F.expr``/``selectExpr`` call, instead of built node by
node as a Column tree (every node of which is a py4j round trip).

An operand of a renderer is either a column name or a ``Fragment`` another
renderer returned. ``sql_ref`` splices either one: a name is backtick-
quoted, so a column named ``my text`` or ``a.b`` stays one identifier; a
fragment passes through unchanged.

``checkpoint_observed`` is the one round step of the driver's fixpoint
loops: a checkpoint plus stop-test aggregates given as SQL text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


class Fragment(str):
    """Spark SQL expression text returned by a renderer."""


def sql_ref(ref: str) -> str:
    """`ref` ready to splice into a fragment: a column name backtick-quoted,
    a Fragment unchanged."""
    if isinstance(ref, Fragment):
        return ref
    return "`" + ref.replace("`", "``") + "`"


def checkpoint_observed(df: DataFrame, **aggs: str) -> tuple[DataFrame, dict]:
    """(eager localCheckpoint of `df`, {name: value}) where each value is
    the Spark SQL aggregate text `aggs[name]` over the checkpointed rows,
    observed on the checkpoint's own job: a fixpoint round materializes
    and reads its stop test in one job, with no `isEmpty` or `count`
    action over the result."""
    seen = Observation()
    done = df.observe(
        seen, *(F.expr(text).alias(name) for name, text in aggs.items())
    ).localCheckpoint()
    return done, seen.get
