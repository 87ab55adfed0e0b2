"""Public error types (reference src/dask_awkward/utils.py; listed in
the reference's docs/api/utils.rst as the user-facing error surface).

``IncompatiblePartitions`` is the zip-like-op guard: raised when two
collections cannot be combined partition-wise. ``ConcretizationTypeError``
is the lazy-in-eager-context guard: raised when a lazy NestedArray is
used where Python demands a concrete value (``bool``/``int``/...).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


class IncompatiblePartitions(ValueError):
    """The inputs to a partition-wise operation are incompatibly
    partitioned (reference utils.py:27). The reference prints each
    argument's divisions; the analogue here is the partition index
    space :func:`~.core.partitions` slices — file count for pure
    scans, runtime partition count for derived frames."""

    def __init__(self, name: str, *args: DataFrame) -> None:
        super().__init__(self.partitions_msg(name, *args))

    @staticmethod
    def partitions_msg(name: str, *args: DataFrame) -> str:
        from dask_awkward_sandbox_spark.core import npartitions

        msg = f"The inputs to {name} are incompatibly partitioned\n"
        for i, arg in enumerate(args):
            msg += f"- arg{i} npartitions: {npartitions(arg)}\n"
        return msg


class ConcretizationTypeError(TypeError):
    """A lazy collection was used where a concrete value is required
    (reference utils.py:40): ``bool(arr)`` in a conditional,
    ``int(arr)``, ``float(arr)``, ``len(arr)``. Build the condition
    into the Catalyst expression instead (``F.when``/filters), or
    materialize explicitly with ``core.compute``/``to_list``."""

    def __init__(self, msg: str) -> None:
        super().__init__(
            f"A lazy NestedArray is encountered in a computation where a "
            f"concrete value is expected. {msg}"
        )


def assert_compatible_partitions(name: str, *dfs: DataFrame) -> None:
    """Raise :class:`IncompatiblePartitions` when the collections are
    provably NOT partition-compatible (reference
    ``compatible_partitions`` + IncompatiblePartitions pattern used by
    every zip-like op). MAYBE (derived frames, same count) passes — the
    reference likewise trusts unknown divisions with matching counts."""
    from dask_awkward_sandbox_spark.core import (
        PartitionCompatibility,
        partition_compatibility,
    )

    if partition_compatibility(*dfs) == PartitionCompatibility.NO:
        raise IncompatiblePartitions(name, *dfs)


