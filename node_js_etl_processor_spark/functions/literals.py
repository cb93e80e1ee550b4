"""Python constants as ONE SQL-text expression.

``F.lit`` costs a JVM round trip per element, so a 14x64 plane matrix
built as ``F.array(*[F.array(*[F.lit(v) ...]) ...])`` takes thousands
of py4j calls to build. ``lit(value)`` renders the same constant as SQL
text and parses it once with ``F.expr``: the same ``array(...)`` tree of
the same literals, typed exactly as ``F.lit`` types them, so the
optimized plan is unchanged.

- ``bool`` -> ``true`` / ``false`` (BOOLEAN);
- ``int`` -> INT inside int32, BIGINT inside int64 (as py4j passes it);
- ``float`` -> ``repr(v) + "D"`` (DOUBLE; ``repr`` round-trips every
  double, subnormals and -0.0 included), and NaN / +inf / -inf as
  ``double('NaN')`` / ``double('Infinity')`` / ``double('-Infinity')``
  inside ``nvl(..., 0.0D)``: the string cast alone is nullable, which
  would make an array holding it ``containsNull`` where ``F.lit``'s is
  not; the optimizer folds both forms to the same literal;
- ``str`` -> a quoted literal with ``\\`` and ``'`` escaped;
- a list or tuple -> ``array(...)`` of its elements, nested for a
  matrix. An empty one raises ``ValueError``: ``F.lit([])`` is an
  ``array<void>``, not the ``array<double>`` a vector site needs.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

_INT32 = range(-(1 << 31), 1 << 31)
_INT64 = range(-(1 << 63), 1 << 63)


def double_digits(v: float) -> str:
    """Shortest decimal digits that read back as exactly ``v``."""
    return repr(float(v))


def sql(value) -> str:
    """SQL text of ``value`` (see the module docstring for the rules)."""
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, int):
        if value in _INT32:
            return str(value)
        if value in _INT64:
            return f"{value}L"
        raise ValueError(f"integer out of int64 range: {value}")
    if isinstance(value, float):
        if math.isfinite(value):
            return double_digits(value) + "D"
        name = "NaN" if math.isnan(value) else "Infinity" if value > 0 else "-Infinity"
        return f"nvl(double('{name}'), 0.0D)"
    if isinstance(value, str):
        return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(value, (list, tuple)):
        if not value:
            raise ValueError("empty array constant has no element type")
        return "array(" + ", ".join(sql(v) for v in value) + ")"
    raise TypeError(f"no SQL literal for {type(value).__name__}")


def lit(value) -> Column:
    """``value`` as a Column, built in one JVM call."""
    return F.expr(sql(value))
