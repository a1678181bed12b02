"""Property tests for the posting-list codec (SURVEY §5.2 item 4)."""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from solr_sematic_importer_spark.functions.codec import (
    BLOCK_SIZE,
    decode_block,
    decode_block_batch,
    encode_block_batch,
    encode_blocks,
    encode_partition_blocks,
    varint_decode,
    varint_encode,
)
from solr_sematic_importer_spark.functions.similarity import (
    LENGTH_TABLE,
    encode_norms,
)


@given(
    st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=300)
)
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    assert np.array_equal(varint_decode(varint_encode(arr)), arr)


def test_varint_empty():
    assert varint_encode(np.array([], dtype=np.uint64)) == b""
    assert varint_decode(b"").size == 0


def test_varint_boundaries():
    # every 7-bit group boundary, both sides
    vals = []
    for k in range(1, 10):
        vals += [(1 << (7 * k)) - 1, 1 << (7 * k)]
    vals += [0, 1, 2**63 - 1]
    arr = np.array(vals, dtype=np.uint64)
    assert np.array_equal(varint_decode(varint_encode(arr)), arr)


def test_varint_compactness():
    # small gaps must take 1 byte each — the point of delta encoding
    arr = np.arange(100, dtype=np.uint64)
    assert len(varint_encode(arr)) == 100


@given(
    st.integers(min_value=1, max_value=500),
    st.integers(min_value=0, max_value=10**9),
    st.integers(min_value=0),
)
@settings(max_examples=100, deadline=None)
def test_block_roundtrip(n, base, seed):
    rng = np.random.default_rng(seed)
    docs = base + np.cumsum(rng.integers(1, 10_000, size=n))
    tfs = rng.integers(1, 1000, size=n)
    dls = rng.integers(1, 100_000, size=n)
    norms = encode_norms(dls)
    impacts = tfs / (tfs + 1.2)
    out_docs, out_tfs, out_norms = [], [], []
    prev_last = -1
    for blk in encode_blocks(docs, tfs, norms, impacts):
        bid, first, last, cnt, max_tf, sum_tf, max_imp, db, tb, nb = blk
        d, t, nrm = decode_block(first, db, tb, nb)
        assert d[0] == first and d[-1] == last and len(d) == cnt
        assert cnt <= BLOCK_SIZE
        assert max_tf == t.max()
        assert sum_tf == t.sum()
        assert first > prev_last  # blocks strictly ordered
        prev_last = last
        out_docs.append(d)
        out_tfs.append(t)
        out_norms.append(nrm)
    assert np.array_equal(np.concatenate(out_docs), docs)
    assert np.array_equal(np.concatenate(out_tfs), tfs)
    assert np.array_equal(np.concatenate(out_norms), norms)
    # norms decode to the quantized dl
    assert np.array_equal(
        LENGTH_TABLE[np.concatenate(out_norms)],
        LENGTH_TABLE[encode_norms(dls)],
    )


@given(st.integers(min_value=0), st.integers(min_value=1, max_value=20))
@settings(max_examples=50, deadline=None)
def test_partition_encoder_matches_per_group_encoder(seed, n_groups):
    """The vectorized whole-partition encoder must produce EXACTLY the
    blocks the per-group reference encoder produces, group by group."""
    rng = np.random.default_rng(seed)
    terms_g = [f"t{i:03d}" for i in range(n_groups)]
    all_terms, all_buckets, all_docs, all_tfs, all_norms, all_imps = (
        [], [], [], [], [], []
    )
    per_group = {}
    for t in terms_g:
        for bucket in sorted(set(rng.integers(0, 3, size=rng.integers(1, 3)).tolist())):
            n = int(rng.integers(1, 400))
            base = bucket << 12
            docs = base + np.sort(
                rng.choice(np.arange(4096), size=min(n, 4096), replace=False)
            ).astype(np.int64)
            tfs = rng.integers(1, 100, size=docs.size).astype(np.int64)
            norms = rng.integers(0, 255, size=docs.size).astype(np.uint8)
            imps = rng.random(docs.size)
            per_group[(t, bucket)] = list(encode_blocks(docs, tfs, norms, imps))
            all_terms += [t] * docs.size
            all_buckets += [bucket] * docs.size
            all_docs.append(docs)
            all_tfs.append(tfs)
            all_norms.append(norms)
            all_imps.append(imps)
    cols = encode_partition_blocks(
        np.array(all_terms, dtype=object),
        np.array(all_buckets, dtype=np.int64),
        np.concatenate(all_docs),
        np.concatenate(all_tfs),
        np.concatenate(all_norms),
        np.concatenate(all_imps),
    )
    got = {}
    for i in range(len(cols["term"])):
        got.setdefault((cols["term"][i], int(cols["bucket_id"][i])), []).append(
            (
                int(cols["block_id"][i]), int(cols["first_doc"][i]),
                int(cols["last_doc"][i]), int(cols["cnt"][i]),
                int(cols["max_tf"][i]), int(cols["sum_tf"][i]),
                float(cols["max_impact"][i]), cols["doc_bytes"][i],
                cols["tf_bytes"][i], cols["norm_bytes"][i],
            )
        )
    assert set(got) == set(per_group)
    for k in per_group:
        assert got[k] == per_group[k], k


@given(st.integers(min_value=0), st.integers(min_value=1, max_value=20))
@settings(max_examples=50, deadline=None)
def test_batch_decoder_matches_per_block_decoder(seed, n_groups):
    """decode_block_batch over a whole batch of block rows == decode_block
    row by row, concatenated in block order."""
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    vocab = pa.array([f"t{i:03d}" for i in range(n_groups)])
    term_ids, docs = [], []
    for t in range(n_groups):
        d = np.unique(rng.integers(0, 1 << 20, size=int(rng.integers(1, 600))))
        term_ids.append(np.full(d.size, t, dtype=np.int32))
        docs.append(d.astype(np.int64))
    term_ids, docs = np.concatenate(term_ids), np.concatenate(docs)
    buckets = docs >> 14
    tfs = rng.integers(1, 1000, size=docs.size).astype(np.int64)
    norms = rng.integers(0, 256, size=docs.size).astype(np.uint8)
    blocks = encode_block_batch(term_ids, vocab, buckets, docs, tfs, norms, 50.0, 1.2, 0.75)
    got = decode_block_batch(blocks)
    want_terms, want_docs, want_tfs, want_dlq = [], [], [], []
    for r in blocks.to_pylist():
        d, t, nb = decode_block(r["first_doc"], r["doc_bytes"], r["tf_bytes"], r["norm_bytes"])
        want_terms += [r["term"]] * d.size
        want_docs.append(d)
        want_tfs.append(t)
        want_dlq.append(LENGTH_TABLE[nb])
    assert got.column("term").to_pylist() == want_terms
    assert np.array_equal(got.column("doc_id").to_numpy(), np.concatenate(want_docs))
    assert np.array_equal(got.column("tf").to_numpy(), np.concatenate(want_tfs))
    assert np.array_equal(got.column("dl_quant").to_numpy(), np.concatenate(want_dlq))
    # the decode inverts the encode: every posting comes back
    assert np.array_equal(np.sort(got.column("doc_id").to_numpy()), np.sort(docs))


def test_batch_decoder_repeats_every_key_column():
    """A multi-field decode passes (field, term) keys: each posting
    repeats both of its block's keys; the postings are unchanged."""
    import pyarrow as pa

    docs = np.arange(0, 300, 3, dtype=np.int64)
    term_ids = (docs >= 150).astype(np.int32)
    ones = np.ones(docs.size, dtype=np.int64)
    blocks = encode_block_batch(
        term_ids, pa.array(["a", "b"]), docs >> 14, docs, ones,
        np.zeros(docs.size, dtype=np.uint8), 10.0, 1.2, 0.75,
    )
    fields = pa.array(["title" if t == "a" else "body" for t in blocks.column("term").to_pylist()])
    tagged = pa.RecordBatch.from_arrays(
        [fields, *blocks.columns], names=["field", *blocks.schema.names]
    )
    got = decode_block_batch(tagged, keys=("field", "term"))
    plain = decode_block_batch(blocks)
    assert got.schema.names == ["field", "term", "doc_id", "tf", "dl_quant"]
    assert got.column("field").to_pylist() == [
        "title" if t == "a" else "body" for t in plain.column("term").to_pylist()
    ]
    for c in ("term", "doc_id", "tf", "dl_quant"):
        assert got.column(c).to_pylist() == plain.column(c).to_pylist()


def test_block_max_impact_is_upper_bound():
    rng = np.random.default_rng(7)
    n = 1000
    docs = np.cumsum(rng.integers(1, 5, size=n))
    tfs = rng.integers(1, 50, size=n)
    norms = encode_norms(rng.integers(1, 500, size=n))
    dlq = LENGTH_TABLE[norms].astype(float)
    impacts = tfs / (tfs + 1.2 * (0.25 + 0.75 * dlq / 100.0))
    off = 0
    for blk in encode_blocks(docs, tfs, norms, impacts):
        cnt, max_imp = blk[3], blk[6]
        assert max_imp >= impacts[off : off + cnt].max() - 1e-15
        off += cnt
