"""Stable dense docID assignment (SURVEY §2.5 W1).

The engine's document identity is ``(conv_id, turn_idx)`` under stable turn
ordering (BASELINE.json input_hint); internally postings reference a dense
``doc_id: long`` equal to the rank of the key in the global
``ORDER BY key_cols`` order.

A single ``row_number() OVER (ORDER BY ...)`` is a one-partition sort — a
scalability cliff at 10^12 rows — so this is the classic two-light-pass
zip-with-index, persisting nothing:

1. One job range-partitions the KEY columns (sampled boundaries, fully
   parallel) and collects each range's first key and row count; prefix
   sums of the counts on the driver give each range's first doc id (one
   tiny array, #ranges entries).
2. The lazy stamping pass re-derives each row's range from its keys
   alone — a binary search over the collected range starts, log2(#ranges)
   comparisons per row — puts each range in a partition of its own, sorts
   by key, and ``mapInPandas`` stamps ``offset[range] + ordinal``.

Step 2 never trusts a second sampling of boundaries (Spark seeds its range
sampler per RDD, so two jobs may cut differently): a row's range is a pure
function of its keys and of step 1's output. The resulting ids are a pure
function of the key order, independent of the sampled partition boundaries
and of parallelism, so reruns and different cluster sizes produce identical
ids (rank-identity requirement). The input is read twice, so it must be
deterministic.
"""

from __future__ import annotations

from itertools import accumulate, count
from typing import Callable, Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, functions as F

DOC_ID_COL = "doc_id"

# Serialized cache: the tokenized corpus as deserialized Java objects (one
# String per token) causes GC thrash that *inverts* scaling — local[32]
# measured slower than local[8]. MEMORY_AND_DISK stores serialized blocks.
CACHE_LEVEL = StorageLevel.MEMORY_AND_DISK


def range_label(key: Column, starts: "Sequence[Column]", labels: "Sequence[int]") -> Column:
    """``labels[i]``, i = how many of the ascending ``starts`` are <=
    ``key``: a binary search written as nested CASE WHENs,
    log2(len(starts)) comparisons per row."""

    def search(lo: int, hi: int) -> Column:  # i lies in [lo, hi]
        if lo == hi:
            return F.lit(labels[lo])
        mid = (lo + hi + 1) // 2
        return F.when(key >= starts[mid - 1], search(mid, hi)).otherwise(search(lo, mid - 1))

    return search(0, len(starts))


def hash_partition(value: int, n: int) -> int:
    """The partition ``repartition(n, col)`` sends the int ``value`` to:
    pmod(Murmur3_x86_32(value, seed 42), n), Spark's HashPartitioning."""
    m = 0xFFFFFFFF
    k = (value & m) * 0xCC9E2D51 & m
    k = ((k << 15) | (k >> 17)) * 0x1B873593 & m
    h = 42 ^ k
    h = ((((h << 13) | (h >> 19)) & m) * 5 + 0xE6546B64 & m) ^ 4
    h = (h ^ (h >> 16)) * 0x85EBCA6B & m
    h = (h ^ (h >> 13)) * 0xC2B2AE35 & m
    h ^= h >> 16
    return (h - (1 << 32) if h >> 31 else h) % n


def stamp_doc_ids(
    df: DataFrame,
    key_cols: Sequence[str],
    num_partitions: int,
    first_id: int,
    fn: "Callable[[np.ndarray, pd.DataFrame], pd.DataFrame]",
    schema: str,
) -> DataFrame:
    """``fn(ids, batch)`` over every batch of ``df`` (output ``schema``),
    ids = ``first_id`` + each row's rank in ``key_cols`` order. Runs step
    1 (one job) and returns step 2 as a lazy frame; persists nothing."""
    keys = list(key_cols)
    key = F.struct(*keys)
    ranges = (
        df.select(*keys)
        .repartitionByRange(num_partitions, *keys)
        .withColumn("_pid", F.spark_partition_id())
        .groupBy("_pid")
        .agg(F.min(key).alias("lo"), F.count("*").alias("n"))
        .orderBy("_pid")
        .collect()
    )
    # Range i is labelled with the smallest int that hash partitioning
    # sends to partition i, so every range gets a task of its own with no
    # second sampling job (a range repartition on the range index samples
    # again and merges a range shorter than the mean into its neighbour's
    # task, doubling that task).
    n, first = max(len(ranges), 1), {}
    for v in count():
        first.setdefault(hash_partition(v, n), v)
        if len(first) == n:
            break
    labels = [first[p] for p in range(n)]
    offsets = dict(zip(labels, accumulate((r["n"] for r in ranges), initial=first_id)))
    types = {f.name: f.dataType for f in df.schema.fields}
    starts = [
        F.struct(*[F.lit(r["lo"][k]).cast(types[k]).alias(k) for k in keys])
        for r in ranges[1:]
    ]

    def stamp(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        label = None
        for b in batches:
            if not len(b):
                continue
            lo, hi = int(b["_pid"].iloc[0]), int(b["_pid"].iloc[-1])
            if label is None:
                label, nxt = lo, offsets[lo]
            if lo != label or hi != label:  # the ids would not be dense
                raise RuntimeError("doc-id stamp: a partition holds two key ranges")
            yield fn(np.arange(nxt, nxt + len(b), dtype=np.int64), b)
            nxt += len(b)

    return (
        df.withColumn("_pid", range_label(key, starts, labels))
        .repartition(n, "_pid")
        .sortWithinPartitions(*keys)
        .mapInPandas(stamp, schema=schema)
    )


def assign_doc_ids(
    df: DataFrame,
    key_cols: Sequence[str] = ("conv_id", "turn_idx"),
    num_partitions: int | None = None,
    doc_id_col: str = DOC_ID_COL,
) -> DataFrame:
    """``df`` with ``doc_id_col`` = the row's rank in ``key_cols`` order,
    as a lazy frame: nothing is persisted."""
    if num_partitions is None:
        num_partitions = max(df.sparkSession.sparkContext.defaultParallelism, 2)
    cols = df.columns
    schema = ", ".join(
        [f"{doc_id_col} long"] + [f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields]
    )
    return stamp_doc_ids(
        df, list(key_cols), num_partitions, 0,
        lambda ids, b: pd.DataFrame({doc_id_col: ids, **{c: b[c] for c in cols}}), schema,
    )
