"""Compressed block postings + block-max WAND top-k.

Blocks are the engine's only postings format: ``build_index`` and
``build_and_write_index`` both encode them through ``encode_flat_to_blocks``
(in memory or on disk), segments and compaction store nothing else, and
every scorer reads them — the exhaustive ones through
``score.term_leaf`` (a decode of the query's terms only), top-k through
``bm25_topk_wand``. The reference gets posting storage and WAND
pruning for free from Lucene (delegated; ``semantic_base_config.zip ->
solrconfig.xml:38,650-655``: one postings format per segment, BM25 top-k).
We re-build both Spark-first:

Construction — "salting by doc bucket" (SURVEY §4.1 skew handling):
    The doc-id space is cut into aligned buckets of ``2**bucket_bits`` docs
    and the encode group key is ``(term, bucket_id)``. This makes the
    bucket the salt: a hot term ("the" with billions of postings — the
    default stopword file is EMPTY) is spread over #buckets independent
    groups, each bounded by the bucket width, so no applyInPandas group can
    exceed ``2**bucket_bits`` rows no matter how skewed the term
    distribution is. Because buckets are disjoint, contiguous doc ranges,
    the two-phase merge is pure concatenation: the global posting list of a
    term is its bucket rows ordered by ``(bucket_id, block_id)`` — no
    stage-2 re-sort or re-encode (partials are already-sorted runs).

Query — block-max WAND at bucket granularity:
    Every block row carries ``max_impact`` (idf-independent BM25 bound).
    A bucket's score upper bound is ``sum_t idf_t * max_t(block
    max_impact)`` — computed entirely JVM-side from block metadata, no
    decode. Buckets are scored exactly in descending upper-bound order,
    and the driver stops as soon as the next bucket's bound is below the
    current top-k threshold — the WAND skip, applied at the
    shuffle-friendly granularity. When the loop could not skip a bucket or
    would not pay for itself, every candidate bucket is scored at once:
    on the driver, after one Arrow collect of the candidate block rows,
    when they hold at most ``TASK_POSTINGS`` postings and no deletes are
    pending; in one Spark scoring job otherwise. Every path scores with
    ``score_blocks``, which accumulates per term in sorted-term order,
    the same float order as the exhaustive scorer, so results are
    bit-identical across parallelism levels AND across the execution
    paths.
"""

from __future__ import annotations

import heapq
from collections import Counter

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from ..functions.codec import decode_block_batch
from ..functions.similarity import (
    B_DEFAULT,
    K1_DEFAULT,
    encode_norms,
    idf,
)
from .build import InvertedIndex, term_dfs
from .score import PAGE_SCHEMA, _literal_map, analyze_query, persist_private

DEFAULT_BUCKET_BITS = 14  # 16384-doc buckets: skew bound + pruning unit

# Postings one query-time decode task takes: ``decode_blocks_to_flat``
# coalesces to one task per this many, and WAND scores a candidate set of
# at most this many on the driver instead of in a Spark job.
TASK_POSTINGS = 1 << 20

BLOCKS_SCHEMA = (
    "term string, bucket_id long, block_id int, first_doc long, last_doc long, "
    "cnt int, max_tf int, sum_tf long, max_impact double, "
    "doc_bytes binary, tf_bytes binary, norm_bytes binary"
)


def encode_flat_to_blocks(
    flat: DataFrame,
    avgdl: float,
    bucket_bits: int = DEFAULT_BUCKET_BITS,
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
) -> DataFrame:
    """(term, doc_id, tf, dl) rows -> compressed block rows.

    ONE shuffle: repartition by (term, bucket) — the bucket doubles as the
    hot-term salt, so no partition receives more than a bucket's worth of
    any term — then a partition-local sort and ONE vectorized encode pass
    per partition (``encode_partition_blocks``): group detection, varint
    packing and block maxima are whole-array NumPy; there is no per-group
    pandas dispatch (the vocab long tail makes groups tiny and numerous —
    per-group overhead would dominate the encode).

    Always Lucene-quantized: the per-posting norm byte is the SmallFloat
    code; impacts (and therefore WAND bounds) use the decoded quantized
    dl, matching what Solr's BM25 actually scores with.
    """
    with_bucket = flat.withColumn(
        "bucket_id", F.shiftright(F.col("doc_id"), bucket_bits)
    ).select("term", "bucket_id", "doc_id", "tf", "dl")
    # no explicit partition count: AQE coalesces the exchange, so a small
    # build (one segment append) writes one or two block files, not one
    # per spark.sql.shuffle.partitions
    part = with_bucket.repartition("term", "bucket_id").sortWithinPartitions(
        "term", "bucket_id", "doc_id"
    )
    # (a pure hash shuffle + NumPy lexsort in the kernel was tried and
    # measured 2.7x SLOWER end-to-end: without the sort requirement AQE
    # reshapes the exchange into fewer, larger partitions and the Python
    # kernels lose parallelism — the JVM sort keeps the plan shape)

    def enc(batches):
        # mapInArrow + dictionary-encoded terms: the kernel never creates a
        # Python object per posting (40M pandas str conversions measured as
        # the encode bottleneck). Group detection runs on int32 dictionary
        # indices; equal terms are contiguous (partition is sorted), so
        # index change points == term change points.
        import pyarrow as pa
        import pyarrow.compute  # noqa: F401 — pa.compute is NOT auto-imported;
        # workers that happened to import it transitively masked this until a
        # fresh worker pool at sf1 hit the bare AttributeError

        from ..functions.codec import encode_block_batch

        # Arrow batches can split a (term, bucket) group: assemble the
        # whole partition (at most a shuffle partition, or AQE's advisory
        # size when it merges small ones) first.
        batches = [bt for bt in batches if bt.num_rows]
        if not batches:
            return
        tbl = pa.Table.from_batches(batches).combine_chunks()
        dict_arr = pa.compute.dictionary_encode(tbl.column("term").chunk(0))
        yield encode_block_batch(
            dict_arr.indices.to_numpy(),
            dict_arr.dictionary,
            tbl.column("bucket_id").chunk(0).to_numpy(),
            tbl.column("doc_id").chunk(0).to_numpy(),
            tbl.column("tf").chunk(0).to_numpy().astype(np.int64),
            encode_norms(tbl.column("dl").chunk(0).to_numpy().astype(np.int64)),
            avgdl, k1, b,
        )

    return part.mapInArrow(enc, BLOCKS_SCHEMA)


def term_stats_from_blocks(blocks: DataFrame) -> DataFrame:
    """(term, df, ttf) from block METADATA: df is the sum of per-block
    ``cnt``, ttf the sum of ``sum_tf`` — no decode, no pass over postings.
    After deletes are applied physically (compact) the counts shrink with
    the surviving postings."""
    return blocks.groupBy("term").agg(
        F.sum("cnt").cast("long").alias("df"), F.sum("sum_tf").alias("ttf")
    )


def decode_blocks_to_flat(
    blocks: DataFrame, keys: "tuple[str, ...]" = ("term",), postings: "int | None" = None
) -> DataFrame:
    """Decode block rows back to (<keys...>, doc_id, tf, dl_quant)
    postings, one vectorized pass per Arrow batch (``decode_block_batch``;
    a multi-field decode keys on ("field", "term")). The EXACT dl is not
    stored in blocks (only the SmallFloat norm byte) — callers needing
    exact dl join doc_stats on doc_id.

    Query-time decodes pass ``postings`` (their terms' df sum): one task
    per ``TASK_POSTINGS`` postings, no shuffle job. Whole-index readers
    (``postings_flat``) pass None: a rebalance sizes their tasks to the
    block bytes, faster than one task per stored partition (sf0.1 in
    memory, 8 partitions, 4 cores: warm ``tf_per_doc_term`` 0.87-1.12 s vs
    1.29-1.71 s without it)."""

    def dec(batches):
        from ..functions.codec import decode_block_batch

        for b in batches:
            if b.num_rows:
                yield decode_block_batch(b, keys)

    cols = blocks.select(*keys, "first_doc", "cnt", "doc_bytes", "tf_bytes", "norm_bytes")
    cols = cols.hint("rebalance") if postings is None else cols.coalesce(1 + postings // TASK_POSTINGS)
    schema = ", ".join(f"{k} string" for k in keys) + ", doc_id long, tf long, dl_quant long"
    return cols.mapInArrow(dec, schema)


def write_blocks(blocks: DataFrame, path: str) -> None:
    """Persist block postings partitioned for query-side pruning: sorted by
    (term, bucket_id) inside files so parquet min/max stats prune term
    lookups without reading pages.

    The shuffle key is (term, bucket_id) — the same salt the encode path
    groups by — NOT term alone: with the default empty stopword file a
    hot term ("the") holds postings in ~half of all docs, and hashing by
    term would funnel that term's entire multi-GB block set into one
    write task. Per-file (term, bucket) sorting preserves the min/max
    pruning either way."""
    (
        blocks.repartition("term", "bucket_id")
        .sortWithinPartitions("term", "bucket_id", "block_id")
        .write.mode("overwrite")
        .parquet(path)
    )


# ---------------------------------------------------------------------------
# Query: block-max WAND
# ---------------------------------------------------------------------------


SCORE_COLUMNS = ("term", "first_doc", "cnt", "doc_bytes", "tf_bytes", "norm_bytes")


def score_blocks(
    rows: "pa.RecordBatch | pa.Table",
    weights: "dict[str, float]",
    avgdl: float,
    k1: float,
    b: float,
    k: int,
    dels: "np.ndarray | None" = None,
) -> "tuple[np.ndarray, np.ndarray]":
    """Block rows (``SCORE_COLUMNS``) of the query's terms -> the k best
    (doc_ids, scores) by (score desc, doc_id asc), deleted docs (``dels``)
    left out. The one BM25 kernel of every WAND path, driver or task.

    One ``decode_block_batch`` pass over all rows; memory is bounded by
    the postings, not by the doc-id range: docs are indexed through their
    unique ids. Partials are added per term in sorted-term order with
    ``bm25_partial``'s float expression, the exhaustive scorer's fold
    order, so scores are bit-identical to ``bm25_topk(quantize=True)``."""
    post = decode_block_batch(rows, keys=())
    order = sorted(weights)
    rank = {t: i for i, t in enumerate(order)}
    term = np.repeat(
        np.array([rank[t] for t in rows.column("term").to_pylist()], dtype=np.int64),
        rows.column("cnt").to_numpy().astype(np.int64),
    )
    tf = post.column("tf").to_numpy().astype(np.float64)
    dlq = post.column("dl_quant").to_numpy().astype(np.float64)
    w = np.array([weights[t] for t in order], dtype=np.float64)[term]
    part = w * tf / (tf + k1 * (1.0 - b + b * dlq / avgdl))
    docs, slot = np.unique(post.column("doc_id").to_numpy(), return_inverse=True)
    scores = np.zeros(docs.size)
    for i in range(len(order)):
        on = term == i  # a term posts each doc once
        scores[slot[on]] += part[on]
    if dels is not None and len(dels):
        live = ~np.isin(docs, dels)
        docs, scores = docs[live], scores[live]
    top = np.arange(docs.size)
    if 0 < k < docs.size:
        # every doc tied with the k-th score, then a stable sort on -score:
        # docs ascend, so exact ties keep the doc_id-asc tie-break
        top = np.flatnonzero(scores >= np.partition(scores, docs.size - k)[docs.size - k])
    top = top[np.argsort(-scores[top], kind="stable")[:k]]
    return docs[top], scores[top]


def _driver_page(spark, docs=(), scores=()) -> DataFrame:
    """The page DataFrame of (doc_id, score). Built from an Arrow table it
    is a LocalRelation, which collects without a Spark job; a frame built
    from a Python list is an RDD scan, one job per collect."""
    return spark.createDataFrame(
        pa.table({
            "doc_id": pa.array(docs, pa.int64()),
            "score": pa.array(scores, pa.float64()),
        }),
        PAGE_SCHEMA,
    )


def _bucket_span(index: InvertedIndex) -> "int | None":
    """Buckets the index's doc-id range covers; None when the bucket width
    or the range is not recorded (indexes written before either existed)."""
    if None in (index.bucket_bits, index.min_doc_id, index.max_doc_id):
        return None
    bb = index.bucket_bits
    return (index.max_doc_id >> bb) - (index.min_doc_id >> bb) + 1


def bm25_topk_wand(
    index: InvertedIndex,
    query: str,
    k: int = 10,
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
    bucket_batch: int = 64,
    fast_path: bool = True,
) -> DataFrame:
    """Exact BM25 top-k over the compressed block index with bucket-level
    block-max pruning. Returns (doc_id, score) like ``bm25_topk``
    (quantized mode) — bit-identical scores, same tie-break. ``k=0``
    returns an empty page; a negative ``k`` raises ``ValueError``."""
    spark = index.doc_stats.sparkSession
    blocks = index.postings_blocks
    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")
    if index.impact_k1 is not None and (
        float(k1) != index.impact_k1 or float(b) != index.impact_b
    ):
        # stored max_impact folds k1/b into the bound at encode time;
        # ub_scale only corrects avgdl drift, so a different similarity
        # would make the bounds invalid and silently drop true top-k docs
        raise ValueError(
            f"block impacts were encoded with k1={index.impact_k1}, "
            f"b={index.impact_b}; query with those values or rebuild the "
            f"index with build_and_write_index(..., k1={k1}, b={b})"
        )
    terms = analyze_query(query, index.profile)
    if k == 0 or not terms or index.n_docs == 0:
        return _driver_page(spark)

    counts = Counter(terms)
    # index-level df memo (the analog of Lucene's cached term dictionary):
    # repeat queries skip the term_stats lookup job entirely
    looked = term_dfs(index, list(counts))
    dfs = {t: d for t, d in looked.items() if d > 0}
    weights = {
        t: float(mult) * idf(dfs[t], index.n_docs)
        for t, mult in counts.items()
        if t in dfs
    }
    if not weights:
        return _driver_page(spark)
    avgdl = index.avgdl

    cand = blocks.filter(F.col("term").isin(list(weights)))

    # Deletion vector kept BUCKETED, never collected to the driver: group
    # deletes by bucket_id (same doc_id >> bucket_bits cut as the blocks)
    # into sorted per-bucket arrays and LEFT-join them onto the candidate
    # block rows, so each bucket scorer receives only its own slice — at
    # the 10^12-doc design point with 1% deletes the full vector is an
    # ~80 GB driver array, but a single bucket's slice is bounded by the
    # bucket width (2**bucket_bits docs). Deleted docs are zeroed INSIDE
    # the bucket scorer, BEFORE its per-bucket top-k cut: an anti-join
    # after the cut would silently drop live docs ranked just below
    # deleted ones. (Lucene analog: per-segment live-docs, not one global
    # bitset on the coordinator.)
    has_deletes = index.deletes is not None
    if has_deletes:
        # The bucket cut MUST use the width the blocks were built with:
        # guessing DEFAULT_BUCKET_BITS on an index whose metadata predates
        # the bucket_bits field but was built with a different width would
        # join delete slices onto the WRONG bucket_ids and silently
        # resurrect deleted docs in the results (ADVICE r3).
        if index.bucket_bits is None:
            raise ValueError(
                "index has pending deletes but no bucket_bits metadata; "
                "cannot bucket the deletion vector safely — rebuild the "
                "index (or re-write index_meta with the build-time "
                "bucket_bits) before querying with deletes"
            )
        bb = index.bucket_bits
        del_by_bucket = (
            index.deletes.select(
                F.shiftright("doc_id", bb).alias("bucket_id"), "doc_id"
            )
            .groupBy("bucket_id")
            .agg(F.sort_array(F.collect_list("doc_id")).alias("_dels"))
        )
        cand = cand.join(del_by_bucket, "bucket_id", "left")

    def score_bucket(grp: pd.DataFrame) -> pd.DataFrame:
        # applyInPandas: ONE complete bucket per call (a mapInPandas batch
        # could split a bucket and emit wrong partial sums).
        dels = grp["_dels"].iloc[0] if has_deletes else None
        # null array (bucket with no deletes) arrives as None or NaN
        if not isinstance(dels, (list, tuple, np.ndarray)):
            dels = None
        docs, scores = score_blocks(
            pa.RecordBatch.from_pandas(grp[list(SCORE_COLUMNS)], preserve_index=False),
            weights, avgdl, k1, b, k, dels,
        )
        return pd.DataFrame({"doc_id": docs, "score": scores})

    # Every candidate bucket is scored at once whenever the UB loop below
    # could not skip one, or would not pay for itself:
    # - the index's doc-id range spans at most bucket_batch buckets: the
    #   loop's first round (theta = -inf) would take every candidate bucket
    #   and its second would find none, so both paths score the same
    #   buckets with the same kernel and return the same page;
    # - the candidate posting count (known exactly from df) is small, so
    #   ordering buckets by bound costs more than scoring them all.
    # Up to one decode task's worth of postings and no pending deletes, a
    # warm, df-memoized request runs ONE Spark job, a JVM-only Arrow
    # collect of the candidate block rows, and scores them on the driver:
    # a Python scoring stage costs more than the work it would do. Larger
    # or delete-bearing sets run 2 jobs, the bucket shuffle's map stage and
    # the scoring stage. Either way the page is driver-local.
    postings = sum(dfs[t] for t in weights)
    span = _bucket_span(index)
    if fast_path and (
        (span is not None and span <= bucket_batch)
        or postings <= 64 * k * max(1, len(weights)) * 32
    ):
        if not has_deletes and postings <= TASK_POSTINGS:
            rows = cand.select(*SCORE_COLUMNS).toArrow()
            return _driver_page(spark, *score_blocks(rows, weights, avgdl, k1, b, k))
        scored_df = cand.groupBy("bucket_id").applyInPandas(
            lambda _key, g: score_bucket(g), PAGE_SCHEMA
        )
        top = sorted(
            ((float(r["score"]), int(r["doc_id"])) for r in scored_df.collect()),
            key=lambda x: (-x[0], x[1]),
        )[:k]
        return _driver_page(spark, [d for _, d in top], [s for s, _ in top])

    cand = persist_private(cand)
    # JVM-side bucket upper bounds from block metadata only (no decode).
    # Kept DISTRIBUTED: at the 10^12-doc design point this table is ~6e7
    # rows per query — collecting it whole would be a driver scale-killer.
    # Each round fetches only the next `bucket_batch` bounds via
    # orderBy(ub desc).limit(batch) (TakeOrderedAndProject: per-partition
    # heap + driver merge of <= batch rows) with the WAND threshold pushed
    # into the scan as a `ub > theta` filter, and a (ub, bucket_id) cursor
    # excluding already-scored buckets.
    # Stored max_impact was encoded with impacts_avgdl; if the query-time
    # avgdl has risen above it (deletes removed mostly-short docs, stats
    # recomputed at compaction), true impacts exceed the stored bound.
    # impact = tf/(tf + k1(1-b) + k1·b·dl/avgdl) grows by at most the
    # factor avgdl_q/avgdl_enc when avgdl rises, so scaling the bucket
    # bound by max(1, avgdl_q/avgdl_enc) keeps it a valid upper bound and
    # the WAND prune exact (ADVICE r2: the unscaled bound could drop true
    # top-k buckets).
    enc_avgdl = index.impacts_avgdl if index.impacts_avgdl else avgdl
    ub_scale = max(1.0, avgdl / enc_avgdl) if enc_avgdl else 1.0
    w = _literal_map(weights)[F.col("term")]
    ub_df = persist_private(
        cand.groupBy("bucket_id", "term")
        .agg(F.max(w * F.col("max_impact")).alias("tub"))
        .groupBy("bucket_id")
        .agg((F.sum("tub") * F.lit(ub_scale)).alias("ub"))
    )

    heap: list[tuple[float, int]] = []  # (score, -doc_id) min-heap of top-k

    def theta() -> float:
        return heap[0][0] if len(heap) >= k else float("-inf")

    cursor: tuple[float, int] | None = None  # (ub, bucket_id) of last taken
    while True:
        nxt = ub_df
        if cursor is not None:
            last_ub, last_bid = cursor
            nxt = nxt.filter(
                (F.col("ub") < last_ub)
                | ((F.col("ub") == last_ub) & (F.col("bucket_id") > last_bid))
            )
        th = theta()
        if th > float("-inf"):
            # prune with >=, not >: a bucket whose bound is EXACTLY theta
            # can still hold a doc at score theta with a smaller doc_id,
            # which wins the (score desc, doc_id asc) tie-break — the same
            # comparison the heap itself uses. Strict > here would drop
            # that doc and diverge from the exhaustive scorer on ties.
            nxt = nxt.filter(F.col("ub") >= th)  # WAND prune, pushed down
        batch_rows = (
            nxt.orderBy(F.col("ub").desc(), F.col("bucket_id").asc())
            .limit(bucket_batch)
            .collect()
        )
        if not batch_rows:
            break  # WAND stop: no remaining bucket can reach the top-k
        batch = [int(r["bucket_id"]) for r in batch_rows]
        cursor = (float(batch_rows[-1]["ub"]), batch[-1])
        scored_df = (
            cand.filter(F.col("bucket_id").isin(batch))
            .groupBy("bucket_id")
            .applyInPandas(lambda _key, g: score_bucket(g), PAGE_SCHEMA)
        )
        for r in scored_df.collect():
            item = (r["score"], -int(r["doc_id"]))
            if len(heap) < k:
                heapq.heappush(heap, item)
            elif item > heap[0]:
                heapq.heapreplace(heap, item)
    ub_df.unpersist()
    cand.unpersist()

    top = sorted(((s, -nd) for s, nd in heap), key=lambda x: (-x[0], x[1]))
    return _driver_page(spark, [d for _, d in top], [s for s, _ in top])
