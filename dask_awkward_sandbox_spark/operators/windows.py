"""Window-function operators: lead/lag/ntile/rank & friends as
first-class, partition-mandatory operators.

The reference's users reach these through dataframe interop
(dask.dataframe ``map_overlap``/``shift`` idioms over ragged event
data); here they are native Catalyst window functions.

Scale contract: every operator REQUIRES explicit partition keys. A
window with no PARTITION BY compiles to ``Exchange SinglePartition``
— every row of a 100 TB table through one task — so the global form
must be an explicit, greppable opt-in (``allow_global=True``), never
a default or an accident. With partition keys the whole family costs
ONE hash shuffle on those keys; multiple operators over the same keys
(even with different ORDER BYs) reuse that single exchange and only
add per-partition sorts.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, Window, WindowSpec
from pyspark.sql import functions as F


def window_spec(
    partition_by: Sequence[str | Column],
    order_by: Sequence[str | Column],
    allow_global: bool = False,
) -> WindowSpec:
    """Partitioned, ordered window spec. Raises unless partition keys
    are given or the caller explicitly accepts the single-task global
    form."""
    if not partition_by and not allow_global:
        raise ValueError(
            "window with no partition keys funnels every row through one "
            "task (Exchange SinglePartition); pass partition_by or set "
            "allow_global=True if the input is provably tiny"
        )
    w = Window.partitionBy(*partition_by) if partition_by else Window.partitionBy()
    return w.orderBy(*order_by)


def lag(col: str | Column, w: WindowSpec, offset: int = 1, default=None) -> Column:
    """Value ``offset`` rows before the current row in the window."""
    return F.lag(col, offset, default).over(w)


def lead(col: str | Column, w: WindowSpec, offset: int = 1, default=None) -> Column:
    """Value ``offset`` rows after the current row in the window."""
    return F.lead(col, offset, default).over(w)


def row_number(w: WindowSpec) -> Column:
    """1-based dense position within the window's order."""
    return F.row_number().over(w)


def rank(w: WindowSpec) -> Column:
    """Competition rank (ties share, next rank skips)."""
    return F.rank().over(w)


def dense_rank(w: WindowSpec) -> Column:
    """Dense rank (ties share, no gaps)."""
    return F.dense_rank().over(w)


def ntile(n: int, w: WindowSpec) -> Column:
    """Bucket 1..n by window order, earlier buckets one row larger on
    remainder."""
    return F.ntile(n).over(w)


