"""Posting-list binary codec: delta + LEB128 varint blocks with block maxima.

The reference delegates posting storage to Lucene (postings are implied by
the destination Solr 9 collection, ``SolrSemanticIndexer.java:103``); Lucene
encodes doc deltas in fixed-size blocks with skip data. We reproduce the
*design* (not the wire format) NumPy-vectorized, because the input_hint
forbids per-row Python:

* postings of one term are sorted by doc_id and cut into blocks of
  ``BLOCK_SIZE`` (128, Lucene's block length);
* doc ids are delta-encoded (gap from the previous doc, first gap relative
  to ``first_doc`` carried on the block row) and LEB128-varint packed;
* term freqs are varint packed;
* per-posting norms are the 1-byte Lucene SmallFloat codes (similarity.py),
  stored raw — 1 byte each, no varint needed;
* every block row carries ``first_doc``/``last_doc`` (skip pointers),
  ``cnt``, ``max_tf`` and ``max_impact`` = max over the block of
  ``tf / (tf + k1*(1-b+b*dl/avgdl))`` — the idf-independent BM25 factor —
  enabling block-max WAND-style pruning (multiply by idf at query time).

Encode and decode are pure NumPy over whole arrays (the Arrow batch IS the
batch); property tests in tests/test_codec.py assert round-trip identity.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import numpy as np

BLOCK_SIZE = 128

# block-row columns, in the order of block_postings.BLOCKS_SCHEMA
BLOCK_COLUMNS = (
    "term", "bucket_id", "block_id", "first_doc", "last_doc",
    "cnt", "max_tf", "sum_tf", "max_impact",
    "doc_bytes", "tf_bytes", "norm_bytes",
)

# ---------------------------------------------------------------------------
# LEB128 varint, vectorized
# ---------------------------------------------------------------------------


def varint_encode_arr(vals: np.ndarray) -> Tuple[np.ndarray, np.ndarray]:
    """LEB128-encode a uint64 array -> (uint8 byte array, per-value byte
    lengths). Vectorized: the loop below is over the <=10 byte positions,
    never over values."""
    v = np.asarray(vals, dtype=np.uint64)
    if v.size == 0:
        return np.empty(0, dtype=np.uint8), np.empty(0, dtype=np.int64)
    # number of 7-bit groups per value (1..10)
    nb = np.ones(v.shape, dtype=np.int64)
    thresh = np.uint64(1 << 7)
    for _ in range(9):
        nb += v >= thresh
        if int(thresh) >= (1 << 63):
            break
        thresh = np.uint64(int(thresh) << 7)
    starts = np.concatenate(([0], np.cumsum(nb)[:-1]))
    out = np.zeros(int(nb.sum()), dtype=np.uint8)
    for k in range(int(nb.max())):
        mask = nb > k
        byte = (v[mask] >> np.uint64(7 * k)) & np.uint64(0x7F)
        cont = (nb[mask] - 1 > k).astype(np.uint8) << 7
        out[starts[mask] + k] = byte.astype(np.uint8) | cont
    return out, nb


def varint_encode(vals: np.ndarray) -> bytes:
    """LEB128-encode a uint64 array -> bytes."""
    out, _ = varint_encode_arr(vals)
    return out.tobytes()


def varint_decode(buf: bytes) -> np.ndarray:
    """Decode LEB128 bytes -> uint64 array (vectorized via reduceat)."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    ends = np.flatnonzero(b < 0x80)
    starts = np.concatenate(([0], ends[:-1] + 1))
    # position of each byte within its value group
    offsets = np.arange(b.size, dtype=np.int64) - np.repeat(starts, ends - starts + 1)
    contrib = (b & 0x7F).astype(np.uint64) << (7 * offsets).astype(np.uint64)
    # reduceat sums each group's contributions
    return np.add.reduceat(contrib, starts)


# ---------------------------------------------------------------------------
# Block encode / decode for one term's postings (within one doc bucket)
# ---------------------------------------------------------------------------


def encode_blocks(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    norm_bytes: np.ndarray,
    impacts: np.ndarray,
    block_size: int = BLOCK_SIZE,
) -> Iterator[Tuple[int, int, int, int, int, int, float, bytes, bytes, bytes]]:
    """Yield block tuples ``(block_id, first_doc, last_doc, cnt, max_tf,
    sum_tf, max_impact, doc_bytes, tf_bytes, norm_b)`` for postings sorted
    by doc_id. ``impacts`` is the precomputed idf-independent BM25 factor
    per posting (block_max of it is what WAND prunes on)."""
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    norm_bytes = np.asarray(norm_bytes, dtype=np.uint8)
    n = doc_ids.size
    for bid, off in enumerate(range(0, n, block_size)):
        d = doc_ids[off : off + block_size]
        t = tfs[off : off + block_size]
        nb = norm_bytes[off : off + block_size]
        im = impacts[off : off + block_size]
        gaps = np.empty(d.size, dtype=np.uint64)
        gaps[0] = 0  # first doc is carried absolute on the row
        gaps[1:] = np.diff(d).astype(np.uint64)
        yield (
            bid,
            int(d[0]),
            int(d[-1]),
            int(d.size),
            int(t.max()),
            int(t.sum()),
            float(im.max()),
            varint_encode(gaps),
            varint_encode(t.astype(np.uint64)),
            nb.tobytes(),
        )


def encode_partition_blocks(
    terms: np.ndarray,
    buckets: np.ndarray,
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    norm_bytes: np.ndarray,
    impacts: np.ndarray,
    block_size: int = BLOCK_SIZE,
) -> dict:
    """Encode ALL (term, bucket) groups of one shuffle partition at once.

    Input arrays are sorted by (term, bucket, doc_id). Group detection,
    gap computation, varint packing, and per-block maxima are whole-array
    NumPy ops; the only Python loop is the per-BLOCK byte slicing
    (~postings/128 iterations, each a cheap bytes copy). This avoids the
    per-group pandas/applyInPandas dispatch overhead that dominates when a
    partition holds ~10^6 small term groups (the long tail of the vocab).

    Returns a dict of columns keyed by ``BLOCK_COLUMNS``.
    """
    n = doc_ids.size
    if n == 0:
        return {k: [] for k in BLOCK_COLUMNS}
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    norm_bytes = np.asarray(norm_bytes, dtype=np.uint8)

    # group boundaries: new (term, bucket) run
    new_group = np.empty(n, dtype=bool)
    new_group[0] = True
    new_group[1:] = (terms[1:] != terms[:-1]) | (buckets[1:] != buckets[:-1])
    group_starts = np.flatnonzero(new_group)
    group_sizes = np.diff(np.append(group_starts, n))

    # block starts: every group start plus every block_size-th posting within
    in_group_pos = np.arange(n, dtype=np.int64) - np.repeat(group_starts, group_sizes)
    block_start_mask = (in_group_pos % block_size) == 0
    bstarts = np.flatnonzero(block_start_mask)
    bends = np.append(bstarts[1:], n)
    # block ordinal within its group
    blocks_per_group = np.add.reduceat(block_start_mask.astype(np.int64), group_starts)
    first_block_of_group = np.concatenate(([0], np.cumsum(blocks_per_group)[:-1]))
    block_ids = np.arange(bstarts.size, dtype=np.int64) - np.repeat(
        first_block_of_group, blocks_per_group
    )

    # doc gaps (0 at block starts; first_doc carried on the row)
    gaps = np.empty(n, dtype=np.uint64)
    gaps[0] = 0
    gaps[1:] = (doc_ids[1:] - doc_ids[:-1]).astype(np.uint64)
    gaps[bstarts] = 0

    doc_buf, doc_nb = varint_encode_arr(gaps)
    tf_buf, tf_nb = varint_encode_arr(tfs.astype(np.uint64))
    doc_off = np.concatenate(([0], np.cumsum(doc_nb)))
    tf_off = np.concatenate(([0], np.cumsum(tf_nb)))

    max_tf = np.maximum.reduceat(tfs, bstarts)
    sum_tf = np.add.reduceat(tfs, bstarts)
    max_imp = np.maximum.reduceat(np.asarray(impacts, dtype=np.float64), bstarts)

    doc_b = doc_buf.tobytes()
    tf_b = tf_buf.tobytes()
    norm_raw = norm_bytes.tobytes()
    doc_bytes_out = [doc_b[doc_off[s] : doc_off[e]] for s, e in zip(bstarts, bends)]
    tf_bytes_out = [tf_b[tf_off[s] : tf_off[e]] for s, e in zip(bstarts, bends)]
    norm_out = [norm_raw[s:e] for s, e in zip(bstarts, bends)]

    return {
        "term": terms[bstarts],
        "bucket_id": np.asarray(buckets, dtype=np.int64)[bstarts],
        "block_id": block_ids.astype(np.int32),
        "first_doc": doc_ids[bstarts],
        "last_doc": doc_ids[bends - 1],
        "cnt": (bends - bstarts).astype(np.int32),
        "max_tf": max_tf.astype(np.int32),
        "sum_tf": sum_tf.astype(np.int64),
        "max_impact": max_imp,
        "doc_bytes": doc_bytes_out,
        "tf_bytes": tf_bytes_out,
        "norm_bytes": norm_out,
    }


def encode_block_batch(
    term_ids: np.ndarray,
    vocab,
    buckets: np.ndarray,
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    norm_bytes: np.ndarray,
    avgdl: float,
    k1: float,
    b: float,
):
    """Postings sorted by (term, bucket, doc_id) -> one Arrow batch of
    block rows (``BLOCK_COLUMNS``). ``term_ids`` index into ``vocab``, an
    Arrow string array. Each posting's impact is the idf-independent BM25
    factor ``tf / (tf + k1*(1-b+b*dl/avgdl))`` on the Lucene-quantized dl
    its norm byte decodes to — what Solr scores with, so the block maxima
    bound the exhaustive scorer's terms. The build encode and the compact
    re-encode both pack through here, so a block row is the same bytes
    whichever wrote it."""
    import pyarrow as pa

    from .similarity import LENGTH_TABLE

    tfs = np.asarray(tfs, dtype=np.int64)
    dlq = LENGTH_TABLE[norm_bytes].astype(np.float64)
    impacts = tfs / (tfs + k1 * (1.0 - b + b * dlq / avgdl))
    cols = encode_partition_blocks(term_ids, buckets, doc_ids, tfs, norm_bytes, impacts)
    return pa.RecordBatch.from_arrays(
        [
            # per-block term rows are small: plain 32-bit-offset strings
            vocab.take(pa.array(cols["term"], type=pa.int32())).cast(pa.string()),
            pa.array(np.asarray(cols["bucket_id"], dtype=np.int64)),
            pa.array(np.asarray(cols["block_id"], dtype=np.int32)),
            pa.array(np.asarray(cols["first_doc"], dtype=np.int64)),
            pa.array(np.asarray(cols["last_doc"], dtype=np.int64)),
            pa.array(np.asarray(cols["cnt"], dtype=np.int32)),
            pa.array(np.asarray(cols["max_tf"], dtype=np.int32)),
            pa.array(np.asarray(cols["sum_tf"], dtype=np.int64)),
            pa.array(np.asarray(cols["max_impact"], dtype=np.float64)),
            pa.array(cols["doc_bytes"], type=pa.binary()),
            pa.array(cols["tf_bytes"], type=pa.binary()),
            pa.array(cols["norm_bytes"], type=pa.binary()),
        ],
        names=list(BLOCK_COLUMNS),
    )


def decode_block(
    first_doc: int, doc_bytes: bytes, tf_bytes: bytes, norm_b: bytes
) -> Tuple[np.ndarray, np.ndarray, np.ndarray]:
    """-> (doc_ids int64, tfs int64, norm_bytes uint8)."""
    gaps = varint_decode(doc_bytes).astype(np.int64)
    docs = first_doc + np.cumsum(gaps)
    tfs = varint_decode(tf_bytes).astype(np.int64)
    norms = np.frombuffer(norm_b, dtype=np.uint8)
    return docs, tfs, norms


def decode_block_batch(batch, keys=("term",)):
    """An Arrow batch of block rows (``<keys>, first_doc, cnt, doc_bytes,
    tf_bytes, norm_bytes``) -> one Arrow batch of postings ``(<keys>,
    doc_id, tf, dl_quant)`` in block order, each repeating its block's
    keys. One pass over the whole batch, no loop over blocks: LEB128 is
    self-delimiting, so each varint column decodes as ONE concatenated
    buffer, and the per-block ``cnt`` splits the doc gaps back into blocks
    for a segmented prefix sum (``decode_block`` per row, vectorized)."""
    import pyarrow as pa

    from .similarity import LENGTH_TABLE

    def joined(name: str) -> bytes:
        return b"".join(batch.column(name).to_pylist())

    cnt = batch.column("cnt").to_numpy().astype(np.int64)
    gaps = varint_decode(joined("doc_bytes")).astype(np.int64)
    tfs = varint_decode(joined("tf_bytes")).astype(np.int64)
    norms = np.frombuffer(joined("norm_bytes"), dtype=np.uint8)
    if not gaps.size == tfs.size == norms.size == int(cnt.sum()):
        raise ValueError("block rows decode to a different posting count than cnt")
    csum = np.cumsum(gaps)
    # doc = first_doc + (running gap sum since the block's first posting)
    before = np.concatenate(([0], csum))[np.cumsum(cnt) - cnt]
    first = batch.column("first_doc").to_numpy().astype(np.int64)
    docs = np.repeat(first - before, cnt) + csum
    rows = pa.array(np.repeat(np.arange(len(cnt), dtype=np.int64), cnt))
    return pa.RecordBatch.from_arrays(
        [batch.column(k).take(rows) for k in keys]
        + [pa.array(docs), pa.array(tfs), pa.array(LENGTH_TABLE[norms].astype(np.int64))],
        names=[*keys, "doc_id", "tf", "dl_quant"],
    )
