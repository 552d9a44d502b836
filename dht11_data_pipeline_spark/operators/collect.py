"""The bounded-collect seam shared by every driver/distributed hybrid.

A hybrid operator runs its driver tier only when the reduced frame it
works on (an edge list, a word-frequency table) fits a row budget.
``bounded_collect`` is the one place that decides and collects: it
asks Spark for ``limit + 1`` rows and hands them over as one Arrow
table, so the gate and the collect are the same job chain — no
separate ``count()`` job, no pandas or ``Row`` objects in between.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def bounded_collect(df: DataFrame, limit: int):
    """At most ``limit`` rows of ``df`` on the driver as one
    ``pyarrow.Table``, or None when ``df`` has more rows than that (the
    caller then runs its distributed tier on ``df`` itself).
    ``limit=0`` always returns None for a non-empty frame, which is how
    callers force the distributed tier."""
    tbl = df.limit(int(limit) + 1).toArrow()
    return None if tbl.num_rows > limit else tbl
