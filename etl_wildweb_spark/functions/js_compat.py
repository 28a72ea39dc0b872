"""JS-semantics-compatible scalar helpers for the WildWeb pipeline.

The reference validates/transforms with JavaScript semantics
(`Number()` casts, moment date handling — /root/reference/task.ts:109-140).
These helpers reproduce the *verified* behavior tables from SURVEY.md
§A9-A11 using JVM-side built-ins only (no Python UDFs in the hot path).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def js_number(c: Column | str) -> Column:
    """JS ``Number(x)`` as a Column: garbage → NULL, whitespace tolerated.

    Spark's try_cast(string AS double) matches the verified JS truth
    table (SURVEY.md §A11): NULL→NULL, ''→NULL (JS gives 0, but the
    reference's `!lon` check already drops ''), 'abc'→NULL,
    ' 105.5 '→105.5, '0'→0.0.
    """
    return F.expr(js_number_sql(c)) if isinstance(c, str) else c.try_cast("double")


def js_number_sql(name: str) -> str:
    """``js_number`` of the column ``name`` as SQL text, for callers that
    build one SQL expression (one parse) instead of chaining Columns."""
    return f"try_cast({name} AS DOUBLE)"


def geo_valid(c: Column | str) -> Column:
    """The reference's geo filter (task.ts:120-124): drop when the value
    is falsy, non-numeric, or exactly 0 (Null Island, CHANGELOG.md:93)."""
    n = js_number(c)
    return n.isNotNull() & (n != 0.0)


def truncate_minute(c: Column | str) -> Column:
    """task.ts:118 — moment(d).seconds(0).milliseconds(0) then
    ``toISOString().replace(/:00.000Z/,'').replace('T',' ')`` →
    UTC string ``yyyy-MM-dd HH:mm`` (behavior verified by execution;
    SURVEY.md §A10). Requires session timezone UTC."""
    col = F.col(c) if isinstance(c, str) else c
    return F.date_format(F.date_trunc("minute", F.try_to_timestamp(col)), "yyyy-MM-dd HH:mm")
