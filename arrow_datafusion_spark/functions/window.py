"""Window-function layer (SURVEY.md §2.5).

The 11 DataFusion built-in window functions
(datafusion/expr/src/built_in_window_function.rs:42-71) mapped to PySpark,
plus frame-builder helpers for ROWS / RANGE
(datafusion/expr/src/window_frame.rs:418,313 — GROUPS frames have no Spark
equivalent; emulate with a dense_rank-keyed RANGE, see ``groups_frame``).

Spark executes these via WindowExec / incremental WindowGroupLimit — the
WindowAggExec / BoundedWindowAggExec split (windows/window_agg_exec.rs:52,
bounded_window_agg_exec.rs:72) is picked by Catalyst automatically.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, Window, WindowSpec
from pyspark.sql import functions as F

__all__ = ["WINDOW", "rows_frame", "range_frame", "groups_frame"]

WINDOW: dict[str, Callable[..., Column]] = {
    "row_number": lambda: F.row_number(),
    "rank": lambda: F.rank(),
    "dense_rank": lambda: F.dense_rank(),
    "percent_rank": lambda: F.percent_rank(),
    "cume_dist": lambda: F.cume_dist(),
    "ntile": lambda n: F.ntile(n if isinstance(n, int) else n),
    "lag": lambda c, offset=1, default=None: F.lag(c, offset, default),
    "lead": lambda c, offset=1, default=None: F.lead(c, offset, default),
    "first_value": lambda c: F.first(c),
    "last_value": lambda c: F.last(c),
    "nth_value": lambda c, n: F.nth_value(c, n),
}


def rows_frame(w: WindowSpec, start: int, end: int) -> WindowSpec:
    """ROWS BETWEEN start AND end (physical offsets)."""
    return w.rowsBetween(start, end)


def range_frame(w: WindowSpec, start: int, end: int) -> WindowSpec:
    """RANGE BETWEEN start AND end (logical offsets on the ORDER BY key)."""
    return w.rangeBetween(start, end)


def groups_frame(df, partition_cols, order_col, start: int, end: int):
    """GROUPS-frame emulation: Spark has no GROUPS, but a GROUPS offset over
    peer groups equals a RANGE offset over ``dense_rank`` of the order key.

    Returns (df_with_rank, window_spec) — aggregate over the returned spec to
    get GROUPS BETWEEN start AND end semantics.
    """
    ranked = df.withColumn(
        "__grp", F.dense_rank().over(
            Window.partitionBy(*partition_cols).orderBy(order_col)
        )
    )
    spec = (
        Window.partitionBy(*partition_cols)
        .orderBy(F.col("__grp"))
        .rangeBetween(start, end)
    )
    return ranked, spec
