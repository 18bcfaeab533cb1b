"""Quoting for expressions rendered as Spark SQL text.

A Column built through the DataFrame API costs one py4j round trip per
node (every ``F.col``, ``F.lit``, operator call and alias). The same
expression rendered as SQL text and handed to ``selectExpr``/``F.expr``
costs one call and one parse in the JVM. The driver-bound paths (the
catalog diff, its report, the row diff's compare list) build their
expressions this way; these helpers quote what goes into the text.
"""

from __future__ import annotations


def lit(s: str) -> str:
    """A Spark SQL string literal holding ``s`` exactly (backslash
    escapes, the parser's default)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def ident(name: str) -> str:
    """A quoted Spark SQL identifier naming the column ``name``."""
    return "`" + name.replace("`", "``") + "`"
