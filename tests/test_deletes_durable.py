"""Durable delete-by-query (Q6, SolrAdminActions.java:268 delete + commit
semantics): deletion vectors survive write/read, WAND honors them BEFORE
per-bucket truncation, and compact() applies them physically (Lucene merge
drops deleted docs and rewrites df/N/avgdl)."""

import pytest
from pyspark.sql import functions as F

from solr_sematic_importer_spark.operators.block_postings import bm25_topk_wand
from solr_sematic_importer_spark.operators.build import (
    build_and_write_index,
    build_index,
    delete_by_query,
    read_index,
    write_index,
)
from solr_sematic_importer_spark.operators.score import (
    bm25_topk,
    bm25_topk_synonyms,
)
from solr_sematic_importer_spark.sources.transcripts import synthetic_transcripts

Q = "zeppelin"


def _ids(rows):
    return [r["doc_id"] for r in rows]


def test_wand_deletes_applied_before_bucket_truncation(spark, tmp_path):
    """With ONE bucket holding the whole corpus, a deleted doc inside the
    bucket's top-k must not evict the live doc ranked just below it (the
    round-1 bug: anti-join ran after the per-bucket cut)."""
    df = synthetic_transcripts(spark, 60)
    idx = build_and_write_index(df, str(tmp_path / "idx"), profile="text_en",
                                bucket_bits=30)  # single bucket
    assert idx.postings_blocks.select("bucket_id").distinct().count() == 1

    q = "word"  # head term: enough matches that the bucket top-k truncates
    before = bm25_topk(idx, q, k=4).select("doc_id").collect()
    assert len(before) == 4
    victims = _ids(before)[:2]
    delete_by_query(idx, F.col("doc_id").isin(victims))
    try:
        exh = bm25_topk(idx, q, k=2).select("doc_id", "score").collect()
        wand = bm25_topk_wand(idx, q, k=2).collect()
        assert _ids(wand) == _ids(exh) == _ids(before)[2:4]
        for a, b in zip(wand, exh):
            assert a["score"] == pytest.approx(b["score"], abs=1e-12)
    finally:
        idx.deletes = None


def test_synonym_query_honors_deletes(spark):
    df = synthetic_transcripts(spark, 40)
    idx = build_index(df, profile="text_en")
    rules = {"zeppelin": ["zeppelin", "quartz"], "quartz": ["zeppelin", "quartz"]}
    before = bm25_topk_synonyms(idx, Q, rules, k=10).collect()
    assert before
    victim = before[0]["doc_id"]
    delete_by_query(idx, F.col("doc_id") == victim)
    try:
        after = bm25_topk_synonyms(idx, Q, rules, k=10).collect()
        assert victim not in _ids(after)
        assert _ids(after)[: len(before) - 1] == _ids(before)[1:]
    finally:
        idx.deletes = None


def test_deletes_survive_write_read_roundtrip(spark, tmp_path):
    df = synthetic_transcripts(spark, 40)
    idx = build_index(df, profile="text_en")
    top = bm25_topk(idx, Q, k=5).select("doc_id").collect()
    victim = top[0]["doc_id"]
    delete_by_query(idx, F.col("doc_id") == victim)
    path = str(tmp_path / "idx")
    write_index(idx, path)
    idx.deletes = None

    re = read_index(spark, path)
    assert re.deletes is not None and re.deletes.count() == 1
    after = bm25_topk(re, Q, k=5).select("doc_id").collect()
    assert victim not in _ids(after)
    wand = bm25_topk_wand(re, Q, k=5).collect()
    assert victim not in _ids(wand)
    # Lucene semantics pre-merge: corpus stats still count deleted docs
    assert re.n_docs == idx.n_docs


def test_compact_applies_deletes_physically(spark, tmp_path):
    from solr_sematic_importer_spark.operators.segments import (
        append_segment,
        compact,
        read_deletes,
        read_segmented_index,
        record_deletes,
    )

    path = str(tmp_path / "segdel")
    full = synthetic_transcripts(spark, 50).persist()
    mid = "conv_00000025"
    append_segment(spark, path, "lo", full.filter(F.col("conv_id") < mid), bucket_bits=8)
    append_segment(spark, path, "hi", full.filter(F.col("conv_id") >= mid), bucket_bits=8)

    idx = read_segmented_index(spark, path)
    n_before = idx.n_docs
    top = bm25_topk(idx, Q, k=3).select("doc_id").collect()
    victim = top[0]["doc_id"]
    victim_terms = [
        r["term"]
        for r in idx.postings_flat.filter(F.col("doc_id") == victim)
        .select("term").distinct().collect()
    ]
    df_before = {
        r["term"]: r["df"]
        for r in idx.term_stats.filter(F.col("term").isin(victim_terms)).collect()
    }
    victim_dl = idx.doc_stats.filter(F.col("doc_id") == victim).first()["dl"]

    record_deletes(spark, path, spark.createDataFrame([(victim,)], "doc_id long"))
    # logical view masks immediately
    masked = read_segmented_index(spark, path)
    assert masked.deletes is not None
    assert victim not in _ids(bm25_topk(masked, Q, k=5).select("doc_id").collect())

    compact(spark, path)
    after = read_segmented_index(spark, path)
    # physically gone: stats shrink, vector cleared, doc absent everywhere
    assert after.deletes is None and read_deletes(spark, path) is None
    assert after.n_docs == n_before - 1
    assert after.sum_dl == idx.sum_dl - victim_dl
    assert after.doc_stats.filter(F.col("doc_id") == victim).count() == 0
    assert after.postings_flat.filter(F.col("doc_id") == victim).count() == 0
    df_after = {
        r["term"]: r["df"]
        for r in after.term_stats.filter(F.col("term").isin(victim_terms)).collect()
    }
    for t in victim_terms:
        assert df_after.get(t, 0) == df_before[t] - 1
    assert victim not in _ids(bm25_topk_wand(after, Q, k=5).collect())


def test_update_documents_replaces_by_key(spark, tmp_path):
    """Solr update-by-uniqueKey: re-adding docs with existing keys
    replaces them — old versions stop matching immediately, new ones
    match; compact drops the old rows physically."""
    from solr_sematic_importer_spark.operators.segments import (
        append_segment,
        compact,
        read_segmented_index,
        update_documents,
    )

    path = str(tmp_path / "upd")
    full = synthetic_transcripts(spark, 30).persist()
    append_segment(spark, path, "base", full, bucket_bits=8)

    # replace one conversation's turns with fresh text
    victim_conv = full.first()["conv_id"]
    old_turns = full.filter(F.col("conv_id") == victim_conv)
    n_old = old_turns.count()
    new_turns = old_turns.withColumn(
        "text", F.lit("xylophone replacement utterance entirely new")
    )
    r = update_documents(spark, path, "upd1", new_turns, bucket_bits=8)
    assert not r.skipped and r.n_docs == n_old

    idx = read_segmented_index(spark, path)
    hits = bm25_topk(idx, "xylophone replacement", k=50).collect()
    convs = {
        row["conv_id"]
        for row in idx.doc_stats.join(
            spark.createDataFrame([(h["doc_id"],) for h in hits], "doc_id long"),
            "doc_id",
        ).collect()
    }
    assert convs == {victim_conv}
    # the OLD doc ids of that conversation are dead
    old_ids = {r2["doc_id"] for r2 in
               idx.doc_stats.filter(
                   (F.col("conv_id") == victim_conv) & (F.col("doc_id") < r.doc_id_offset)
               ).collect()}
    live = {r2["doc_id"] for r2 in hits}
    assert not (old_ids & live)

    compact(spark, path)
    after = read_segmented_index(spark, path)
    # physically: one copy of the conversation remains
    assert after.doc_stats.filter(F.col("conv_id") == victim_conv).count() == n_old
    assert after.n_docs == full.count()
    again = bm25_topk(after, "xylophone replacement", k=50).collect()
    assert {h["doc_id"] for h in again} == live


def test_mixed_bucket_bits_rejected(spark, tmp_path):
    from solr_sematic_importer_spark.operators.segments import (
        append_segment,
        compact,
        read_segmented_index,
    )

    path = str(tmp_path / "mixedbits")
    full = synthetic_transcripts(spark, 20).persist()
    mid = "conv_00000010"
    append_segment(spark, path, "a", full.filter(F.col("conv_id") < mid), bucket_bits=8)
    # the mismatched append itself raises, before it writes anything ...
    with pytest.raises(ValueError, match="bucket_bits"):
        append_segment(spark, path, "b", full.filter(F.col("conv_id") >= mid),
                       bucket_bits=10)
    # ... so the index stays readable and compactable
    append_segment(spark, path, "b", full.filter(F.col("conv_id") >= mid))
    idx = read_segmented_index(spark, path)
    assert idx.bucket_bits == 8 and idx.n_docs == full.count()
    compact(spark, path)
    assert read_segmented_index(spark, path).n_docs == full.count()


def test_corrupt_manifest_raises_not_empty(spark, tmp_path):
    """A manifest dir that exists but cannot be read must FAIL the read —
    returning an empty manifest would restart doc_id_offset at 0 and
    append overlapping ids (silent corruption)."""
    import os

    from solr_sematic_importer_spark.operators.segments import read_manifest

    path = str(tmp_path / "corrupt")
    os.makedirs(f"{path}/manifest")
    with open(f"{path}/manifest/part-00000.parquet", "wb") as f:
        f.write(b"not a parquet file")
    with pytest.raises(Exception):
        read_manifest(spark, path)
    # a genuinely missing path still means "fresh index"
    fresh = read_manifest(spark, str(tmp_path / "nonexistent"))
    assert len(fresh) == 0
