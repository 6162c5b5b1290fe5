"""Order-preservation discipline (§1.4).

The reference guarantees the i-th output corresponds to the i-th input
("no sorting, dedup, alignment or reshaping", pyield/du/core.py:109-113)
and, where an algorithm must sort internally, attaches a row index and
restores it (with_row_index → compute → sort, interpolador.py:422,493).

Spark DataFrames are unordered, so the implicit index becomes explicit:
``with_row_index`` before any order-destroying op, ``restore_order`` at
the exit. ``monotonically_increasing_id`` is partition-monotonic (ids
jump between partitions) — adequate as a stable sort key, which is all
the contract needs; use ``sequential=True`` for a dense 0..n-1 index
(costs a window over one partitioning pass — avoid on huge frames).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

IDX = "_row_idx"


def with_row_index(df: DataFrame, sequential: bool = False, col: str = IDX) -> DataFrame:
    """Attach a row index for order restoration / index alignment.

    HAZARD (same class sampling.py bans rand() for): the id is only
    stable for a SINGLE execution of a SINGLE lineage. If the indexed
    frame forks into branches that are joined back on the index, or a
    task retry / AQE re-plan re-executes the assignment, the same row
    can receive a different id. For fork-and-rejoin alignment, pin the
    assignment first: ``pinning.pin(with_row_index(df))`` (or
    derive the index from data via a row_number over a deterministic
    key ordering)."""
    out = df.withColumn(col, F.monotonically_increasing_id())
    if sequential:
        out = out.withColumn(
            col, F.row_number().over(Window.orderBy(col)) - 1
        )
    return out


def restore_order(df: DataFrame, col: str = IDX, drop: bool = True) -> DataFrame:
    out = df.orderBy(col)
    return out.drop(col) if drop else out
