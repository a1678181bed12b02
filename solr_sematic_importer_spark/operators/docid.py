"""Stable dense docID assignment (SURVEY §2.5 W1).

The engine's document identity is ``(conv_id, turn_idx)`` under stable turn
ordering (BASELINE.json input_hint); internally postings reference a dense
``doc_id: long`` equal to the rank of the key in the global
``ORDER BY key_cols`` order.

A single ``row_number() OVER (ORDER BY ...)`` is a one-partition sort — a
scalability cliff at 10^12 rows — so this is the classic two-light-pass
zip-with-index:

1. ``repartitionByRange(key_cols)`` + ``sortWithinPartitions`` puts the
   data in globally ordered, per-partition-sorted form (sampled range
   boundaries; fully parallel sort).
2. A cheap count-per-partition job -> prefix sums on the driver (one tiny
   array, #partitions entries).
3. ``mapInPandas`` stamps ``offset[pid] + local_ordinal`` — narrow, no
   extra shuffle.

The resulting ids are a pure function of the key order, independent of the
sampled partition boundaries and of parallelism, so reruns and different
cluster sizes produce identical ids (rank-identity requirement).  At real
scale the ordered+numbered result is persisted once (the index build's
``doc_stats`` table) and the per-partition (rows, offset) pairs land in the
lineage manifest so resumed builds reuse identical offsets.
"""

from __future__ import annotations

from typing import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import DataFrame, functions as F

DOC_ID_COL = "doc_id"

# Serialized cache: the tokenized corpus as deserialized Java objects (one
# String per token) causes GC thrash that *inverts* scaling — local[32]
# measured slower than local[8]. MEMORY_AND_DISK stores serialized blocks.
CACHE_LEVEL = StorageLevel.MEMORY_AND_DISK


def ordered_with_offsets(
    df: DataFrame, key_cols: Sequence[str], num_partitions: int, first_id: int = 0
) -> "tuple[DataFrame, dict[int, int]]":
    """Steps 1-2: ``df`` range-partitioned and sorted by ``key_cols`` with
    its partition id in ``_pid``, persisted (the caller unpersists it once
    its consumer is materialized), and the first doc id of each
    partition — ``first_id`` plus the row counts of the partitions
    before it."""
    ordered = (
        df.repartitionByRange(num_partitions, *key_cols)
        .sortWithinPartitions(*key_cols)
        .withColumn("_pid", F.spark_partition_id())
    )
    ordered.persist(CACHE_LEVEL)
    counts = dict(
        (r["_pid"], r["cnt"])
        for r in ordered.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()
    )
    offsets, acc = {}, first_id
    for pid in range(max(counts) + 1 if counts else 0):
        offsets[pid] = acc
        acc += counts.get(pid, 0)
    return ordered, offsets


def stamp_batches(
    batches: Iterator[pd.DataFrame], offsets: "dict[int, int]"
) -> Iterator["tuple[np.ndarray, pd.DataFrame]"]:
    """Step 3, inside one partition of an ``ordered_with_offsets`` frame:
    (ids, batch) for each non-empty batch, ids = partition offset + local
    ordinal."""
    local = 0
    for b in batches:
        if not len(b):
            continue
        off = offsets[int(b["_pid"].iloc[0])]
        yield np.arange(off + local, off + local + len(b), dtype=np.int64), b
        local += len(b)


def assign_doc_ids(
    df: DataFrame,
    key_cols: Sequence[str] = ("conv_id", "turn_idx"),
    num_partitions: int | None = None,
    doc_id_col: str = DOC_ID_COL,
) -> DataFrame:
    if num_partitions is None:
        num_partitions = max(df.sparkSession.sparkContext.defaultParallelism, 2)
    ordered, offsets = ordered_with_offsets(df, list(key_cols), num_partitions)

    out_schema = ", ".join(
        [f"{doc_id_col} long"] + [f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields]
    )
    src_cols = [f.name for f in df.schema.fields]

    def stamp(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for ids, b in stamp_batches(batches, offsets):
            out = b[src_cols].copy()
            out.insert(0, doc_id_col, ids)
            yield out

    return ordered.mapInPandas(stamp, schema=out_schema)
