"""Scale-hygiene regressions (VERDICT r2 "what's wrong" #1/#2 + ADVICE):

- deletion vectors stay BUCKETED (never collected whole to the driver) —
  a delete set far beyond driver comfort must flow through the WAND path
  with bit-identical results vs the exhaustive scorer;
- MoreLikeThis term-vector fetch is a point lookup on the doc-major
  ``doc_vectors`` forward index, not a scan of term-ordered postings;
- post-compaction avgdl drift cannot invalidate WAND's stored impact
  bounds (ub is scaled by avgdl_query/impacts_avgdl);
- simhash banding validates its pigeonhole guarantee instead of a silent
  recall gap;
- update_documents is append-then-delete (crash leaves recoverable
  overlap, never data loss) and idempotent on re-run.

Reference semantics anchors: Lucene per-segment live-docs (delete-by-query
via SolrAdminActions.java:268), Lucene stored term vectors for MLT.
"""

import pytest
from pyspark.sql import functions as F

from solr_sematic_importer_spark.operators.block_postings import bm25_topk_wand
from solr_sematic_importer_spark.operators.build import (
    build_and_write_index,
    build_index,
    read_index,
)
from solr_sematic_importer_spark.operators.mlt import interesting_terms
from solr_sematic_importer_spark.operators.score import bm25_topk
from solr_sematic_importer_spark.sources.transcripts import synthetic_transcripts


def _ids(rows):
    return [r["doc_id"] for r in rows]


def test_wand_bucketed_deletes_beyond_driver_scale(spark, tmp_path):
    """One MILLION delete rows (a size you'd never collect()) through the
    bucketed delete path: WAND stays bit-identical to the exhaustive
    scorer and every deleted candidate is masked. The delete DataFrame is
    built distributed (spark.range) and only per-bucket slices ever reach
    a scorer."""
    df = synthetic_transcripts(spark, 120)
    idx = build_and_write_index(df, str(tmp_path / "idx"), profile="text_en",
                                bucket_bits=8)

    q = "word can use"
    before = bm25_topk(idx, q, k=8).collect()
    victims = _ids(before)[:4]
    # victims + 10^6 distributed non-matching ids (disjoint from doc space)
    idx.deletes = (
        spark.range(10_000_000, 11_000_000)
        .select(F.col("id").alias("doc_id"))
        .union(spark.createDataFrame([(v,) for v in victims], "doc_id long"))
    )
    try:
        exh = bm25_topk(idx, q, k=4).collect()
        wand = bm25_topk_wand(idx, q, k=4).collect()
        assert _ids(wand) == _ids(exh) == _ids(before)[4:8]
        for a, b in zip(wand, exh):
            assert a["score"] == pytest.approx(b["score"], abs=1e-12)
        assert not set(victims) & set(_ids(wand))
    finally:
        idx.deletes = None


def test_mlt_term_vector_is_doc_major_point_lookup(spark):
    """interesting_terms must read ONLY doc_vectors: with the block
    postings swapped for an empty table the result is unchanged (a
    postings scan would return zero terms)."""
    df = synthetic_transcripts(spark, 30)
    idx = build_index(df, profile="text_en")
    assert idx.doc_vectors is not None
    want = interesting_terms(idx, 3, min_term_freq=1, min_doc_freq=1)
    assert want  # non-degenerate fixture
    idx.postings_blocks = idx.postings_blocks.limit(0)
    got = interesting_terms(idx, 3, min_term_freq=1, min_doc_freq=1)
    assert got == want


def test_doc_vectors_persisted_and_pruned(spark, tmp_path):
    """write_doc_vectors=True round-trips the forward index and a doc_id
    predicate is pushed to the parquet scan (the layout is doc_id-sorted,
    so the filter prunes row groups instead of scanning the index)."""
    df = synthetic_transcripts(spark, 30)
    path = str(tmp_path / "fwd")
    build_and_write_index(df, path, bucket_bits=8, write_doc_vectors=True)
    idx = read_index(spark, path)
    assert idx.doc_vectors is not None
    plan = (
        idx.doc_vectors.filter(F.col("doc_id") == 7)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters: [IsNotNull(doc_id), EqualTo(doc_id,7)" in plan
    row = idx.doc_vectors.filter(F.col("doc_id") == 7).first()
    assert row is not None and len(row["terms"]) == len(row["tfs"]) > 0
    # and MLT over the reloaded index agrees with the in-memory build
    mem = build_index(df, profile="text_en")
    assert interesting_terms(idx, 7, min_term_freq=1, min_doc_freq=1) == \
        interesting_terms(mem, 7, min_term_freq=1, min_doc_freq=1)


def test_index_reads_raise_on_corrupt_or_missing_tables(spark, tmp_path):
    """Only a MISSING optional table reads as absent. A corrupt doc_vectors
    file raises instead of silently dropping the forward index, and an
    index or segment directory without postings_blocks raises a
    ValueError that names it."""
    import os
    import re
    import shutil

    from solr_sematic_importer_spark.operators.segments import (
        append_segment,
        read_segmented_index,
    )

    df = synthetic_transcripts(spark, 10)
    path = str(tmp_path / "broken")
    build_and_write_index(df, path, bucket_bits=8)
    assert read_index(spark, path).doc_vectors is None  # absent is fine
    os.makedirs(f"{path}/doc_vectors")
    with open(f"{path}/doc_vectors/part-00000.parquet", "wb") as f:
        f.write(b"not a parquet file")
    with pytest.raises(Exception) as err:
        read_index(spark, path)
    assert "doc_vectors" in str(err.value)
    shutil.rmtree(f"{path}/doc_vectors")
    shutil.rmtree(f"{path}/postings_blocks")
    with pytest.raises(ValueError, match=re.escape(path)):
        read_index(spark, path)

    seg_root = str(tmp_path / "broken_segs")
    append_segment(spark, seg_root, "s0", df, bucket_bits=8)
    shutil.rmtree(f"{seg_root}/segments/s0/postings_blocks")
    with pytest.raises(ValueError, match=re.escape(seg_root)):
        read_segmented_index(spark, seg_root)


def test_compact_avgdl_drift_keeps_wand_bounds_valid(spark, tmp_path):
    """Delete mostly-SHORT docs then compact: the post-delete query-time
    avgdl rises above the avgdl the surviving blocks' impacts were encoded
    with (ADVICE r2: the stale bounds then UNDERestimate and the WAND
    prune can drop true top-k buckets). The manifest must record the
    encode-time avgdl and WAND must stay identical to exhaustive."""
    from solr_sematic_importer_spark.operators.segments import (
        append_segment,
        compact,
        read_segmented_index,
        record_deletes,
    )

    path = str(tmp_path / "drift")
    long_part = " ".join(["filler"] * 30)
    rows = [(f"c{i}", 0, f"zeppelin quartz {long_part}") for i in range(8)]
    rows += [(f"s{i}", 0, "zeppelin") for i in range(40)]  # many short docs
    docs = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    append_segment(spark, path, "seg0", docs, bucket_bits=4)

    idx0 = read_segmented_index(spark, path)
    short_ids = idx0.doc_stats.filter(F.col("conv_id").startswith("s")).select("doc_id")
    record_deletes(spark, path, short_ids)
    compact(spark, path)

    idx = read_segmented_index(spark, path)
    assert idx.impacts_avgdl is not None
    assert idx.avgdl > idx.impacts_avgdl  # the drift direction under test
    exh = bm25_topk(idx, "zeppelin quartz", k=5).collect()
    wand = bm25_topk_wand(idx, "zeppelin quartz", k=5).collect()
    assert _ids(wand) == _ids(exh)
    for a, b in zip(wand, exh):
        assert a["score"] == pytest.approx(b["score"], abs=1e-12)


def test_simhash_pigeonhole_guarantee_validated(spark):
    from solr_sematic_importer_spark.operators.dedup import simhash_hamming_pairs

    fps = spark.createDataFrame([(0, 0), (1, 3)], "doc_id long, simhash long")
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_hamming_pairs(fps, band_bits=16, max_distance=8)
    # explicit opt-in allows the approximate regime
    got = simhash_hamming_pairs(fps, band_bits=16, max_distance=8,
                                approximate=True).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in got} == {(0, 1)}


def test_update_documents_idempotent_rerun(spark, tmp_path):
    """Append-then-delete ordering makes a resumed update safe: re-running
    the same update (same segment_key) skips the append and must NOT
    delete the replacement docs it added the first time."""
    from solr_sematic_importer_spark.operators.segments import (
        append_segment,
        read_segmented_index,
        update_documents,
    )

    path = str(tmp_path / "upd2")
    full = synthetic_transcripts(spark, 20).persist()
    append_segment(spark, path, "base", full, bucket_bits=8)
    victim = full.first()["conv_id"]
    new_turns = full.filter(F.col("conv_id") == victim).withColumn(
        "text", F.lit("xylophone replacement utterance entirely new")
    )
    r1 = update_documents(spark, path, "upd", new_turns, bucket_bits=8)
    r2 = update_documents(spark, path, "upd", new_turns, bucket_bits=8)
    assert not r1.skipped and r2.skipped
    assert r2.doc_id_offset == r1.doc_id_offset

    idx = read_segmented_index(spark, path)
    hits = bm25_topk(idx, "xylophone replacement", k=50).collect()
    live = {h["doc_id"] for h in hits}
    # the replacement docs (>= offset) survive the re-run
    assert live and all(d >= r1.doc_id_offset for d in live)
    full.unpersist()
