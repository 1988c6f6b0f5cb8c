"""Partition-safe global ordering: dense sequence numbers and ordered top-n
without a single-task stage.

`row_number()` over an unpartitioned Window is the classic scale trap: Spark
moves EVERY row through one task. At north-rule rounds (10^7-URL batches ×
~12 links/page ≈ 10^8 candidates) that one task is the whole round's wall
clock. These helpers produce bit-identical numbering with the two-pass
per-partition-offset pattern:

1. (top-n only) per-partition local top-n prune — narrow, no shuffle,
   bounds the data to P·n rows before the global step,
2. range-repartition by the order columns + sort within partitions
   (RangePartitioner assigns ascending key ranges to ascending partition
   ids, so partition id order IS global order),
3. one tiny job: row count per partition; cumulative offsets on the driver,
4. a mapInPandas pass adds offset + local position (Arrow batches arrive in
   partition order, so the local position is a running counter).

Requirements: the order columns must form a TOTAL order (unique tuples),
be non-null, and sort ascending. String columns compare identically in
pandas and Spark for any valid UTF-8 (UTF-8 byte order == code-point order).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from louis_crawler_legacy_spark.session import release


# Below this, orderBy().limit() (TakeOrderedAndProject: per-partition heaps
# merged into ONE bounded partition) beats the two-pass pattern — the merge
# task holds at most n rows, so it is NOT the unbounded single-task trap the
# two-pass path exists to avoid. Production-size batches (10^7) take the
# two-pass path.
FAST_TAKE_MAX = 1 << 16


def _local_top_n(df: DataFrame, cols: list[str], n: int) -> DataFrame:
    """Keep each partition's n smallest rows by cols — no shuffle. The
    running-top accumulator keeps at most 2n rows in memory per task no
    matter the partition size (spill-free by construction)."""

    def prune(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        top: pd.DataFrame | None = None
        for pdf in batches:
            top = pdf if top is None else pd.concat([top, pdf], ignore_index=True)
            if len(top) > n:
                top = top.sort_values(cols, kind="mergesort").head(n)
        if top is not None and len(top):
            yield top

    return df.mapInPandas(prune, schema=df.schema)


def _fast_take(df: DataFrame, cols: list[str], n: int,
               seq_col: str) -> tuple[DataFrame, int]:
    """Bounded top-n: TakeOrderedAndProject (per-partition heaps, O(n)
    merge) + a running-counter numbering pass over the single ≤n-row
    output partition. 2 jobs instead of 4; no unpartitioned Window."""
    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField(seq_col, T.LongType())]
    )
    taken = df.orderBy(*cols).limit(n)

    def number(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        seen = 0
        for pdf in batches:
            out = pdf.copy()
            out[seq_col] = np.arange(seen + 1, seen + 1 + len(pdf), dtype="int64")
            seen += len(pdf)
            yield out

    # lazy checkpoint: the count() is the action that materializes the
    # checkpoint blocks — one job instead of an eager-checkpoint job plus a
    # count job (the count is a full-partition action, so nothing stays
    # partially materialized)
    result = taken.mapInPandas(number, schema=out_schema).localCheckpoint(
        eager=False
    )
    return result, result.count()


def ranked_take(
    df: DataFrame,
    order_cols: tuple[str, ...],
    n: int | None = None,
    seq_col: str = "seq",
) -> tuple[DataFrame, int]:
    """Return (df + dense 1-based ``seq_col`` ordered by ``order_cols``,
    total row count), keeping only the first ``n`` rows when given.

    The returned DataFrame is localCheckpointed (materialized,
    lineage-truncated); the count comes from the pass-2 partition-counts
    job — no extra action.
    """
    p = df.sparkSession.sparkContext.defaultParallelism
    cols = list(order_cols)

    if n is not None and n <= FAST_TAKE_MAX:
        return _fast_take(df, cols, n, seq_col)

    if n is not None:
        df = _local_top_n(df, cols, n)

    ranged = (
        df.repartitionByRange(p, *cols)
        .sortWithinPartitions(*cols)
        .withColumn("_pid", F.spark_partition_id())
        # pin partition boundaries across the two passes; lazy — the
        # counts job right below is the materializing (full) action
        .localCheckpoint(eager=False)
    )
    counts = {
        r["_pid"]: r["cnt"]
        for r in ranged.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()
    }
    total = int(sum(counts.values()))
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]

    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField(seq_col, T.LongType())]
    )
    out_cols = [f.name for f in df.schema.fields]
    limit = n

    def add_seq(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pos: dict[int, int] = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pids = pdf["_pid"].to_numpy()
            seqs = np.empty(len(pdf), dtype="int64")
            for pid in np.unique(pids):
                mask = pids == pid
                k = int(mask.sum())
                prev = pos.get(int(pid), 0)
                seqs[mask] = offsets[int(pid)] + prev + np.arange(1, k + 1)
                pos[int(pid)] = prev + k
            out = pdf[out_cols].copy()
            out[seq_col] = seqs
            if limit is not None:
                out = out[out[seq_col] <= limit]
            if len(out):
                yield out

    result = ranged.mapInPandas(add_seq, schema=out_schema).localCheckpoint()
    release(ranged)
    if n is not None:
        total = min(total, n)
    return result, total
