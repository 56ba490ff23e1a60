"""SQL-text building blocks for plans built from the driver.

Every ``pyspark.sql.functions`` call and Column method is at least one py4j
round trip to the JVM (plus one more when its Java object is released), so a
verdict grid spelled as Column algebra costs thousands of round trips per
run. Those round trips are latency-bound, and on a small run they are the
least steady part of its wall time. The same expression written as SQL text
is parsed by the JVM in one call (``F.expr`` / ``DataFrame.selectExpr``).

These helpers render column names and Python literals into that text; a
literal gets the type ``F.lit`` would give it.
"""

from __future__ import annotations

import math
import numbers


def ident(name: str) -> str:
    """A column name as a backquoted SQL identifier: the whole name is one
    column, a dot in it is not a nested-field path."""
    return "`" + name.replace("`", "``") + "`"


def lit(v: object) -> str:
    """A Python number or string as the SQL literal of the type ``F.lit``
    gives it: int → INT (BIGINT outside int32), float → DOUBLE, str →
    STRING."""
    if isinstance(v, numbers.Integral):
        v = int(v)
        if v == -(2**31):  # the literal 2147483648 alone would parse as BIGINT
            return f"CAST({v} AS INT)"
        return str(v) if -(2**31) < v < 2**31 else f"{v}L"
    if isinstance(v, numbers.Real):
        v = float(v)
        if math.isnan(v):
            return "CAST('NaN' AS DOUBLE)"
        if math.isinf(v):
            return f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"
        return f"{v!r}D"
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    raise TypeError(f"no SQL literal for {type(v).__name__}")
