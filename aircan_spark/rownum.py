"""Distributed contiguous row numbering — the engine's system `_id` column.

Reference semantics (SURVEY.md §1.4; /root/reference/aircan/dependencies/
cloud/storage.py:69-88,119-125,172-174 and cloud/warehouse.py:13-31):
every ingested table gets a sequential INT64 `_id` as its FIRST column,
numbered 1..N in source order for overwrite, continuing at MAX(_id)+1 for
append, preserved on upsert matches.

The reference streams single-threaded so a counter suffices. On Spark a
naive ``row_number().over(Window.orderBy(...))`` with no partitioning
collapses the whole table into ONE task — unusable at scale. Instead we use
the partition-offset scheme (zipWithIndex's algorithm, expressed on the
DataFrame API):

1. fix a deterministic partition-local order (explicit sort columns, or
   ``monotonically_increasing_id`` which is monotone within a partition and
   encodes the partition index in its high 33 bits — so ordering (pid,
   local) reproduces source/file order for ordered-split sources);
2. count rows per partition (cheap map-side agg, one number per partition);
3. cumulative-sum the counts on the driver (#partitions values, not data);
4. ``row_number()`` within each partition + that partition's offset.

Total cost: one extra pass for the counts (avoidable only by caching), zero
shuffles of the data itself. Scales to any number of partitions.

This module also owns the package's cache pins. ``pin`` persists a frame
and records it in the innermost open ``cache_scope()`` of the calling
thread; the pin lives until that scope exits (normally or by exception).
With no scope open, the pin lives for the session and
``aircan_spark.data.release_session_caches`` drains it. Scopes are per
thread because ``foreachBatch`` runs its callback on py4j's callback
thread, not on the driver's main thread.
"""

from __future__ import annotations

import threading
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from aircan_spark import ROW_NUMBER_COLUMN

_PID = "__aircan_pid"
_LOCAL = "__aircan_local_order"


class _Scopes(threading.local):
    """Per thread: the pin lists of the open cache_scope()s, innermost
    last."""

    def __init__(self) -> None:
        self.stack: list[list[DataFrame]] = []


_SCOPES = _Scopes()


def pin(df: DataFrame, level: StorageLevel | None = None) -> DataFrame:
    """Persist ``df`` (at ``level``, else Spark's default) and record it in
    the innermost open ``cache_scope()`` on this thread, which unpersists
    it on exit. Outside any scope the pin lasts for the session."""
    pinned = df.persist() if level is None else df.persist(level)
    if _SCOPES.stack:
        _SCOPES.stack[-1].append(pinned)
    return pinned


def release_caches(frames: list[DataFrame]) -> int:
    """Unpersist ``frames``; returns the number released. A frame whose
    session has already stopped has nothing left to release."""
    n = 0
    for df in frames:
        try:
            df.unpersist(blocking=False)
            n += 1
        except Exception:  # session already stopped — nothing to release
            pass
    return n


@contextmanager
def cache_scope() -> Iterator[None]:
    """Unpersist, on exit, exactly the frames ``pin``ned inside this block
    on this thread (nested scopes release their own pins)."""
    pins: list[DataFrame] = []
    _SCOPES.stack.append(pins)
    try:
        yield
    finally:
        _SCOPES.stack.pop()
        release_caches(pins)


def max_id(df: DataFrame) -> int:
    """COALESCE(MAX(_id), 0) over ``df``: the last number handed out, so
    the next row is numbered from this + 1 (reference A1,
    warehouse.py:13-31). 0 when ``df`` has no `_id`. Column-pruned scan:
    only `_id` pages are read."""
    if ROW_NUMBER_COLUMN not in df.columns:
        return 0
    return int(df.agg(F.coalesce(F.max(ROW_NUMBER_COLUMN), F.lit(0))).collect()[0][0])


def with_row_number(
    df: DataFrame,
    column: str = ROW_NUMBER_COLUMN,
    start: int = 1,
    order_by: list[str | Column] | None = None,
    cache: bool = True,
) -> DataFrame:
    """Prepend a contiguous row-number column starting at ``start``.

    ``order_by``: explicit global ordering columns. When given, the frame is
    range-repartitioned on them first so the numbering is a true global
    order. When omitted, source order is preserved (file/split order), which
    matches the reference's ingest numbering.

    ``cache``: the algorithm reads the frame twice (counts, then numbering);
    pinning guarantees the two passes see identical partitioning. The
    result is lazy, so the pin must outlive this call: it lives until the
    caller's ``cache_scope()`` exits (see the module docstring). Disable
    only for deterministic one-pass-cheap sources.
    """
    if order_by:
        cols = [F.col(c) if isinstance(c, str) else c for c in order_by]
        prepared = df.repartitionByRange(*cols).sortWithinPartitions(*cols)
        prepared = prepared.withColumn(_PID, F.spark_partition_id())
        local_order = cols
    else:
        prepared = df.withColumn(_LOCAL, F.monotonically_increasing_id())
        prepared = prepared.withColumn(_PID, F.spark_partition_id())
        local_order = [F.col(_LOCAL)]

    if cache:
        prepared = pin(prepared)

    counts = {
        row[_PID]: row["cnt"]
        for row in prepared.groupBy(_PID).agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    offsets: dict[int, int] = {}
    acc = start - 1
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]

    # Offsets enter the plan as a literal map — one entry per partition,
    # broadcast implicitly with the task closure. No join, no shuffle.
    if offsets:
        map_entries: list[Column] = []
        for pid, off in offsets.items():
            map_entries.extend([F.lit(pid), F.lit(off)])
        offset_expr = F.create_map(*map_entries)[F.col(_PID)]
    else:
        offset_expr = F.lit(start - 1)

    w = Window.partitionBy(_PID).orderBy(*local_order)
    numbered = prepared.withColumn(
        column, (F.row_number().over(w).cast("long") + offset_expr).cast("long")
    )
    data_cols = [c for c in df.columns if c != column]
    return numbered.select(column, *data_cols)
