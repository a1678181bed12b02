"""Driver-side timings of the Python kernels the build runs inside Spark.

Each kernel runs on a fixed seeded input, with no Spark involved, so the
figure repeats tightly from run to run and isolates the kernel from
scheduler noise. Every figure is the median of several repeats.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

KERNEL_SEED = 20240601
SAMPLE_CONVS = 30
REPEATS = 5
BUCKET_BITS = 14
K1, B = 1.2, 0.75


def _median_rate(fn, units: int) -> float:
    rates = []
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        fn()
        rates.append(units / (time.perf_counter() - t0))
    return statistics.median(rates)


def sample_texts():
    from solr_sematic_importer_spark.sources.transcripts import generate_conversations_pdf

    return generate_conversations_pdf(np.arange(1, SAMPLE_CONVS + 1), seed=KERNEL_SEED)["text"]


def analyzer_turns_per_s(texts) -> float:
    """``tf_series`` under ``text_en``, the build's per-turn analyze step."""
    from solr_sematic_importer_spark.functions.analyzer import tf_series

    return _median_rate(lambda: tf_series(texts, "text_en"), len(texts))


def codec_postings_per_s(texts) -> tuple[float, float, bool]:
    """-> (encode, decode postings per second, round trip exact).

    The partition is the sample's postings sorted by (term, bucket, doc),
    as the build's shuffle hands them to ``encode_partition_blocks``;
    decode runs ``decode_block`` over every block it produced."""
    from solr_sematic_importer_spark.functions.analyzer import tf_series
    from solr_sematic_importer_spark.functions.codec import (
        decode_block,
        encode_partition_blocks,
    )
    from solr_sematic_importer_spark.functions.similarity import LENGTH_TABLE, encode_norms

    terms_s, tfs_s, dl_s = tf_series(texts, "text_en")
    vocab = {t: i for i, t in enumerate(sorted({t for ts in terms_s for t in ts}))}
    term = np.array([vocab[t] for ts in terms_s for t in ts], dtype=np.int32)
    doc = np.repeat(np.arange(len(terms_s), dtype=np.int64), [len(ts) for ts in terms_s])
    tf = np.array([f for fs in tfs_s for f in fs], dtype=np.int64)
    bucket = doc >> BUCKET_BITS
    order = np.lexsort((doc, bucket, term))
    term, bucket, doc, tf = term[order], bucket[order], doc[order], tf[order]
    norms = encode_norms(dl_s.to_numpy(dtype=np.int64)[doc])
    dlq = LENGTH_TABLE[norms].astype(np.float64)
    impacts = tf / (tf + K1 * (1.0 - B + B * dlq / dlq.mean()))
    n = doc.size

    def encode():
        return encode_partition_blocks(term, bucket, doc, tf, norms, impacts)

    cols = encode()
    blocks = list(zip(cols["first_doc"], cols["doc_bytes"], cols["tf_bytes"], cols["norm_bytes"]))

    def decode():
        return [decode_block(int(f), db, tb, nb) for f, db, tb, nb in blocks]

    out = decode()
    exact = (
        np.array_equal(np.concatenate([d for d, _, _ in out]), doc)
        and np.array_equal(np.concatenate([t for _, t, _ in out]), tf)
        and np.array_equal(np.concatenate([x for _, _, x in out]), norms)
    )
    return _median_rate(encode, n), _median_rate(decode, n), exact
