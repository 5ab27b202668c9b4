"""Dense, deterministic doc_id assignment — vectorized, no row-at-a-time ops.

Document identity (SURVEY §1.4): one turn = one document; ``doc_id`` is the
dense rank of ``(conv_id, turn_idx)`` under stable global ordering —
semantically ``row_number() OVER (ORDER BY conv_id, turn_idx) - 1``, but a
single-partition window would serialize the whole corpus through one task.

Scalable technique (classic zipWithIndex-without-RDD):
  1. range-repartition + sort within partitions on the order key —
     partitions are globally ordered, rows ordered within each;
  2. one cheap pass counts rows per partition;
  3. cumulative partition offsets become a broadcast array literal and
     ``id = offset[pid] + local_row_number`` is PURE Column arithmetic
     over ``monotonically_increasing_id()`` (pid in the upper bits,
     a 0-based consecutive row number in the lower 33 — exactly the
     two inputs the assignment needs, with no Python in the loop).

Two scans of the input, zero driver-side row loops; at 10^12 rows the
count pass reads only the order-key columns (column-pruned). Step 3
used to be a ``mapInPandas`` pass, which shipped EVERY column of every
row (the document text included) JVM→Python→JVM just to append an
integer (guide §4.1: the Python boundary cost is per byte crossing, and
the function needed none of those bytes); the Column form assigns the
same ids with zero boundary crossings. Per-partition row counts are
bounded by 2^33 (the monotonic id's row field): a partition at or above
that raises ``ValueError`` from the counts the assignment already
collects, instead of wrapping ids silently.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# a range partition must hold fewer rows than this: monotonically_
# increasing_id() keeps the row number in its low 33 bits, so a longer
# partition's rows would carry into the partition id and collide with
# the next partition's ids
MAX_PARTITION_ROWS = 1 << 33


def assign_dense_ids(
    df: DataFrame,
    order_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    id_col: str = "doc_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Add a dense int64 ``id_col`` = rank under ``order_cols`` ordering.
    The range-sorted input stays persisted for the caller to release;
    :func:`dense_ids` scopes that cache to a ``with`` block."""
    return _dense_ids(df, order_cols, id_col, num_partitions)[0]


@contextmanager
def dense_ids(
    df: DataFrame,
    order_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    id_col: str = "doc_id",
    num_partitions: int | None = None,
):
    """:func:`assign_dense_ids` whose persisted range sort is released
    when the block exits — and only that frame: whatever else the caller
    keeps cached stays cached."""
    out, arranged = _dense_ids(df, order_cols, id_col, num_partitions)
    try:
        yield out
    finally:
        arranged.unpersist()


def _dense_ids(df, order_cols, id_col, num_partitions) -> tuple[DataFrame, DataFrame]:
    """(frame with ids, the persisted range-sorted input it reads)."""
    num_partitions = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    arranged = (
        df.repartitionByRange(num_partitions, *[F.col(c) for c in order_cols])
        .sortWithinPartitions(*order_cols)
        .withColumn("_pid", F.spark_partition_id())
    )
    # cache so the count pass and the assignment pass see identical
    # range-sample boundaries (and to avoid recomputing the sort)
    arranged = arranged.persist()
    counts = {r["_pid"]: r["cnt"] for r in arranged.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()}
    if counts and max(counts.values()) >= MAX_PARTITION_ROWS:
        arranged.unpersist()
        raise ValueError(
            f"assign_dense_ids: a partition holds {max(counts.values())} rows, at or "
            f"above {MAX_PARTITION_ROWS} (the row field of monotonically_increasing_id); "
            "ids would wrap — raise num_partitions"
        )
    max_pid = max(counts, default=-1)
    offs = []
    acc = 0
    for pid in range(max_pid + 1):
        offs.append(acc)
        acc += counts.get(pid, 0)

    # monotonically_increasing_id() on the SAME persisted partitions:
    # upper bits = partition id (identical to _pid — same physical
    # partitions), lower 33 bits = consecutive 0-based row number in
    # partition order, so offset[pid] + row_number reproduces the
    # mapInPandas assignment bit-for-bit
    mono = F.monotonically_increasing_id()
    local = mono.bitwiseAND(F.lit((1 << 33) - 1))
    base = F.element_at(
        F.array(*[F.lit(int(o)).cast("long") for o in offs]),
        F.shiftrightunsigned(mono, 33).cast("int") + 1,
    ) if offs else F.lit(0).cast("long")
    return arranged.drop("_pid").withColumn(id_col, (base + local).cast("long")), arranged
