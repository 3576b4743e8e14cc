"""Spark SQL literals for plans built as SQL text.

The render plan is handed to Spark as a few `selectExpr`/`filter`
strings instead of one py4j call per Column operator. These helpers
turn the driver-side constants those strings carry into literals that
parse back to exactly the same value and type as `F.lit(value)`.
"""

from __future__ import annotations

import math


def double(x: float) -> str:
    """An exact DOUBLE literal: Python's shortest round-trip repr with
    the `D` suffix (a bare `1.5` would be a DECIMAL), which Spark parses
    with correct rounding, so every finite double, subnormals included,
    comes back bit for bit (-0.0 included). NaN and infinities have no
    literal form and are refused."""
    x = float(x)
    if not math.isfinite(x):
        raise ValueError(f"no exact SQL literal for {x!r}")
    return repr(x).upper() + "D"


def string(text: str) -> str:
    """A STRING literal whose value is `text`: quote and backslash
    escaped, so no input can end the literal early."""
    return "'" + text.replace("\\", "\\\\").replace("'", "\\'") + "'"
