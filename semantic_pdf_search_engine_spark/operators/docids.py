"""Stable global docID assignment without a single-partition sort.

docID = dense rank of (conv_id, turn_idx) — permutation-invariant to
input partitioning (FIXTURES.md invariant; the reference's analog is
the stable chunk→point ordering asserted at
/root/reference/src/qdrant.rs:42-46).

At 10^12 rows a `row_number() OVER (ORDER BY ...)` would funnel the
whole table through ONE task. Instead: the classic zipWithIndex
pattern —

  1. range-repartition by (conv_id, turn_idx) and sort within
     partitions (one shuffle; ranges are contiguous and ordered);
  2. count rows per partition (cheap metadata aggregate);
  3. prefix-sum the counts on the driver (P numbers, tiny) and
     broadcast the offsets;
  4. second pass adds offset + local ordinal via Arrow batches.

Cost: one wide shuffle + one narrow pass over cached data, versus the
naive plan's total serialization.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

ORDER_COLS = ("conv_id", "turn_idx")


def assign_doc_ids(
    df: DataFrame,
    num_partitions: int | None = None,
    order_cols: tuple[str, ...] = ORDER_COLS,
    out_col: str = "doc_id",
) -> DataFrame:
    """Add an `out_col: long` column = dense rank over order_cols."""
    num_partitions = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    ordered = df.repartitionByRange(num_partitions, *order_cols).sortWithinPartitions(
        *order_cols
    )
    ordered = ordered.withColumn("_pid", F.spark_partition_id())
    ordered.persist()
    counts = {
        r["_pid"]: r["cnt"]
        for r in ordered.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()
    }
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]

    out_schema = StructType(
        [f for f in ordered.schema.fields if f.name != "_pid"]
        + [StructField(out_col, LongType(), False)]
    )
    cols = [f.name for f in ordered.schema.fields if f.name != "_pid"]

    # mapInArrow, not mapInPandas: the pass only APPENDS an int64
    # column, so the payload columns (the full text!) stay as Arrow
    # buffers end-to-end instead of round-tripping through pandas
    # object arrays (measured: the pandas conversion dominated this
    # stage's wall at 448k turns)
    def add_ids(batches):
        import pyarrow as pa

        local = 0
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            pid = batch.column("_pid")[0].as_py()
            off = offsets[int(pid)] + local
            local += n
            ids = pa.array(range(off, off + n), type=pa.int64())
            arrays = [batch.column(c) for c in cols] + [ids]
            yield pa.RecordBatch.from_arrays(arrays, names=cols + [out_col])

    result = ordered.mapInArrow(add_ids, schema=out_schema)
    # the persist pins partition contents between the counts pass and
    # the add_ids pass; callers release it AFTER consuming the result
    # (build/append call unpersist_doc_ids post-write — leaving it
    # pinned would accumulate cached partitions across builds)
    result._docids_cached_parent = ordered  # type: ignore[attr-defined]
    # total row count — already known from the per-partition counts;
    # callers needing |df| (e.g. lm_logloss's bucket arithmetic) read
    # this instead of running a second full count pass
    result._docids_total = acc  # type: ignore[attr-defined]
    return result


def unpersist_doc_ids(df: DataFrame) -> None:
    """Release the two-pass cache pinned by assign_doc_ids. Call after
    the DataFrame has been consumed (e.g. written to parquet)."""
    parent = getattr(df, "_docids_cached_parent", None)
    if parent is not None:
        parent.unpersist()

