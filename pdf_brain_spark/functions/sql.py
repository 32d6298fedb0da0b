"""SQL fragments: shared expressions rendered as Spark SQL text and parsed
JVM-side by one ``F.expr``/``selectExpr`` call, instead of built node by
node as a Column tree (every node of which is a py4j round trip).

An operand of a renderer is either a column name or a ``Fragment`` another
renderer returned. ``sql_ref`` splices either one: a name is backtick-
quoted, so a column named ``my text`` or ``a.b`` stays one identifier; a
fragment passes through unchanged.
"""

from __future__ import annotations


class Fragment(str):
    """Spark SQL expression text returned by a renderer."""


def sql_ref(ref: str) -> str:
    """`ref` ready to splice into a fragment: a column name backtick-quoted,
    a Fragment unchanged."""
    if isinstance(ref, Fragment):
        return ref
    return "`" + ref.replace("`", "``") + "`"
