"""Segmented build, manifest resume, and LSM compaction (SURVEY §5.2 item 5:
kill/resume without re-tokenization, identical final index)."""

import shutil

import pytest
from pyspark.sql import functions as F

from solr_sematic_importer_spark.operators.block_postings import bm25_topk_wand
from solr_sematic_importer_spark.operators.build import build_index
from solr_sematic_importer_spark.operators.score import bm25_topk
from solr_sematic_importer_spark.operators.segments import (
    append_segment,
    compact,
    get_by_key,
    read_manifest,
    read_segmented_index,
    record_deletes,
)
from solr_sematic_importer_spark.sources.transcripts import synthetic_transcripts

N_CONVS = 90
QUERIES = ["zeppelin quartz", "the you one word", "running indexes"]


@pytest.fixture(scope="module")
def seg_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("segidx"))
    full = synthetic_transcripts(spark, N_CONVS).persist()
    slices = [
        full.filter(F.col("conv_id") < "conv_00000030"),
        full.filter(
            (F.col("conv_id") >= "conv_00000030") & (F.col("conv_id") < "conv_00000060")
        ),
        full.filter(F.col("conv_id") >= "conv_00000060"),
    ]
    results = [
        append_segment(spark, path, f"seg{i}", s, bucket_bits=8)
        for i, s in enumerate(slices)
    ]
    return path, full, slices, results


def test_offsets_contiguous(spark, seg_path):
    path, full, _, results = seg_path
    assert [r.skipped for r in results] == [False, False, False]
    total = 0
    for r in results:
        assert r.doc_id_offset == total
        total += r.n_docs
    assert total == full.count()
    man = read_manifest(spark, path)
    assert len(man) == 3
    assert (man["docs_per_sec"] > 0).all()


def test_segmented_equals_oneshot(spark, seg_path):
    path, full, _, _ = seg_path
    # slices are in conv_id order -> segment doc ids == global rank ids
    seg_idx = read_segmented_index(spark, path)
    one = build_index(full, profile="text_en")
    assert seg_idx.n_docs == one.n_docs and seg_idx.sum_dl == one.sum_dl
    for q in QUERIES:
        a = [(r["doc_id"], r["score"]) for r in
             bm25_topk(seg_idx, q, k=10).select("doc_id", "score").collect()]
        b = [(r["doc_id"], r["score"]) for r in
             bm25_topk(one, q, k=10).select("doc_id", "score").collect()]
        assert [d for d, _ in a] == [d for d, _ in b], q
        for (_, sa), (_, sb) in zip(a, b):
            assert sa == pytest.approx(sb, abs=1e-12)


def test_resume_skips_completed(spark, seg_path):
    path, _, slices, _ = seg_path
    # re-append an already-committed key: must skip without building
    r = append_segment(spark, path, "seg1", slices[1], bucket_bits=8)
    assert r.skipped
    assert len(read_manifest(spark, path)) == 3


def test_crash_resume_rebuilds_only_missing(spark, seg_path, tmp_path):
    path, full, slices, _ = seg_path
    # simulate a crash between segment write and manifest commit for seg2:
    # copy manifest with only seg0+seg1 rows into a fresh index dir
    path2 = str(tmp_path / "crashidx")
    man = read_manifest(spark, path)
    for i in (0, 1):
        append_segment(spark, path2, f"seg{i}", slices[i], bucket_bits=8)
    # resume run: seg0/seg1 skipped, seg2 built at the correct offset
    rs = [append_segment(spark, path2, f"seg{i}", slices[i], bucket_bits=8)
          for i in range(3)]
    assert [r.skipped for r in rs] == [True, True, False]
    man2 = read_manifest(spark, path2)
    assert list(man2["doc_id_offset"]) == list(man["doc_id_offset"])
    assert list(man2["checksum"]) == list(man["checksum"])
    idx2 = read_segmented_index(spark, path2)
    idx1 = read_segmented_index(spark, path)
    for q in QUERIES[:1]:
        a = bm25_topk(idx1, q, k=10).select("doc_id", "score").collect()
        b = bm25_topk(idx2, q, k=10).select("doc_id", "score").collect()
        assert [r["doc_id"] for r in a] == [r["doc_id"] for r in b]


def test_compact_preserves_results(spark, seg_path):
    path, full, _, _ = seg_path
    before_idx = read_segmented_index(spark, path)
    before = {
        q: [(r["doc_id"], r["score"]) for r in bm25_topk_wand(before_idx, q, k=10).collect()]
        for q in QUERIES
    }
    n_blocks_rows = before_idx.postings_blocks.count()
    total_cnt = before_idx.postings_blocks.agg(F.sum("cnt")).first()[0]

    compact(spark, path)
    man = read_manifest(spark, path)
    # compaction keys are auto-generated fresh per cycle (re-using a live
    # key would read and overwrite the same path on the next cycle)
    assert len(man) == 1 and man["segment_key"].iloc[0].startswith("compacted")

    after_idx = read_segmented_index(spark, path)
    assert after_idx.postings_blocks.agg(F.sum("cnt")).first()[0] == total_cnt
    # boundary buckets merged -> row count can only shrink or stay
    assert after_idx.postings_blocks.count() <= n_blocks_rows
    for q in QUERIES:
        after = [(r["doc_id"], r["score"]) for r in bm25_topk_wand(after_idx, q, k=10).collect()]
        assert [d for d, _ in after] == [d for d, _ in before[q]], q
        for (_, sa), (_, sb) in zip(after, before[q]):
            assert sa == pytest.approx(sb, abs=1e-12)


def test_gc_removes_orphan_segment_dirs(spark, seg_path):
    # runs AFTER test_compact_preserves_results (definition order): the
    # manifest now references only the compacted segment; lo/mid/hi dirs
    # are orphans
    import os

    from solr_sematic_importer_spark.operators.segments import gc_segments

    path, _, _, _ = seg_path
    removed = gc_segments(spark, path)
    assert removed  # the three pre-compaction segment dirs
    live = {os.path.basename(d) for d in read_manifest(spark, path)["segment_dir"]}
    on_disk = set(os.listdir(os.path.join(path, "segments")))
    assert on_disk == live
    assert gc_segments(spark, path) == []  # idempotent
    idx = read_segmented_index(spark, path)
    assert bm25_topk(idx, QUERIES[0], k=5).count() > 0


@pytest.fixture(scope="module")
def snap_path(spark, tmp_path_factory):
    """Own index for the snapshot tests: the shared seg_path fixture is
    COMPACTED by test_compact_preserves_results, which collapses its
    manifest to a single row (history expiration) — snapshot reads need
    the multi-segment history intact."""
    path = str(tmp_path_factory.mktemp("snapidx"))
    full = synthetic_transcripts(spark, 24).persist()
    slices = [
        full.filter(F.col("conv_id") < "conv_00000008"),
        full.filter(
            (F.col("conv_id") >= "conv_00000008") & (F.col("conv_id") < "conv_00000016")
        ),
        full.filter(F.col("conv_id") >= "conv_00000016"),
    ]
    results = [
        append_segment(spark, path, f"seg{i}", s, bucket_bits=8)
        for i, s in enumerate(slices)
    ]
    return path, full, slices, results


def test_snapshot_read_upto_segment(spark, snap_path):
    """Time travel: reading up to seg1 sees exactly the first two
    segments' docs with the same scores the full index would have given
    them at that point (stats are per-snapshot)."""
    path, full, slices, results = snap_path
    snap = read_segmented_index(spark, path, upto_segment="seg1")
    assert snap.n_docs == results[0].n_docs + results[1].n_docs
    assert snap.doc_stats.count() == snap.n_docs
    # as_of at the seg0 commit time sees only seg0
    man = read_manifest(spark, path)
    t0 = float(man["created_ts"].iloc[0])
    snap0 = read_segmented_index(spark, path, as_of=t0)
    assert snap0.n_docs == results[0].n_docs


def test_snapshot_excludes_later_deletes(spark, snap_path, tmp_path):
    """A delete recorded after a snapshot's cut must not mask docs in
    that snapshot, and must mask them in the current view."""
    path, full, slices, results = snap_path
    snap_before = read_segmented_index(spark, path, upto_segment="seg2")
    victim = snap_before.doc_stats.select("doc_id").orderBy("doc_id").first()["doc_id"]
    record_deletes(spark, path, spark.createDataFrame([(victim,)], "doc_id long"))
    try:
        now_view = read_segmented_index(spark, path)
        assert now_view.deletes is not None
        assert now_view.deletes.filter(F.col("doc_id") == victim).count() == 1
        snap = read_segmented_index(spark, path, upto_segment="seg2")
        assert (
            snap.deletes is None
            or snap.deletes.filter(F.col("doc_id") == victim).count() == 0
        )
    finally:
        # leave the shared fixture clean for other tests
        import shutil

        shutil.rmtree(f"{path}/deletes", ignore_errors=True)


def test_realtime_get_by_key(spark, seg_path):
    path, full, slices, results = seg_path
    rows = full.select("conv_id", "turn_idx").orderBy("conv_id", "turn_idx").take(3)
    keys = [(r["conv_id"], r["turn_idx"]) for r in rows]
    got = get_by_key(spark, path, keys).collect()
    assert {(r["conv_id"], r["turn_idx"]) for r in got} == set(keys)
    # delete one -> it disappears from /get, others stay
    victim_doc = got[0]["doc_id"]
    record_deletes(
        spark, path, spark.createDataFrame([(victim_doc,)], "doc_id long")
    )
    try:
        got2 = get_by_key(spark, path, keys).collect()
        assert len(got2) == len(keys) - 1
        assert victim_doc not in {r["doc_id"] for r in got2}
    finally:
        import shutil

        shutil.rmtree(f"{path}/deletes", ignore_errors=True)


def test_segment_dirs_blocks_only(spark, snap_path):
    """Blocks are the canonical postings: segment dirs must NOT duplicate
    them as a flat table (3-5x write/storage amplification per segment at
    scale — VERDICT r3 'what's wrong' #1). The flat view is reconstructed
    from blocks on read (covered value-for-value by
    test_segmented_equals_oneshot, which queries through it)."""
    import os

    path, _, _, _ = snap_path
    man = read_manifest(spark, path)
    for d in man["segment_dir"]:
        names = set(os.listdir(d))
        assert "postings_flat" not in names, d
        assert {"postings_blocks", "doc_stats", "term_stats"} <= names
        # meta is ONE driver-written JSON control file, not a parquet job
        assert "index_meta.json" in names or "index_meta" in names


def test_append_after_compact_with_deletes(spark, tmp_path):
    """ADVICE r3 (high): compact applies deletes (n_docs shrinks) while
    surviving docs KEEP their ids — the next append must allocate ids
    past the EXHAUSTED range (next_doc_id watermark), not past
    sum(n_docs), or it hands out ids already owned by live docs."""
    path = str(tmp_path / "wmidx")
    full = synthetic_transcripts(spark, 16).persist()
    first = full.filter(F.col("conv_id") < "conv_00000008")
    second = full.filter(F.col("conv_id") >= "conv_00000008")
    r0 = append_segment(spark, path, "a", first, bucket_bits=8)
    idx = read_segmented_index(spark, path)
    victims = idx.doc_stats.select("doc_id").orderBy(F.col("doc_id").asc()).limit(3)
    record_deletes(spark, path, victims)
    compact(spark, path)
    man = read_manifest(spark, path)
    assert int(man["n_docs"].iloc[0]) == r0.n_docs - 3  # deletes applied
    r1 = append_segment(spark, path, "b", second, bucket_bits=8)
    # watermark: ids resume past the pre-delete extent of segment 'a'
    assert r1.doc_id_offset == r0.n_docs
    merged = read_segmented_index(spark, path)
    total = merged.doc_stats.count()
    assert merged.doc_stats.select("doc_id").distinct().count() == total
    assert total == r0.n_docs - 3 + r1.n_docs
    assert bm25_topk(merged, QUERIES[0], k=5).count() > 0
    full.unpersist()


def test_two_compaction_cycles(spark, tmp_path):
    """ADVICE r3 (medium): a second auto-compaction used to read
    segments/compacted while overwriting the same path. Keys are now
    fresh per cycle; three consecutive merges must all succeed and end
    at the one-shot answer."""
    from solr_sematic_importer_spark.operators.segments import maybe_compact

    path = str(tmp_path / "cycles")
    full = synthetic_transcripts(spark, 12).persist()
    bounds = ["conv_00000003", "conv_00000006", "conv_00000009"]
    parts = [
        full.filter(F.col("conv_id") < bounds[0]),
        full.filter((F.col("conv_id") >= bounds[0]) & (F.col("conv_id") < bounds[1])),
        full.filter((F.col("conv_id") >= bounds[1]) & (F.col("conv_id") < bounds[2])),
        full.filter(F.col("conv_id") >= bounds[2]),
    ]
    merges = 0
    for i, p in enumerate(parts):
        append_segment(spark, path, f"c{i}", p, bucket_bits=8)
        if maybe_compact(spark, path, max_segments=1) is not None:
            merges += 1
    assert merges == 3  # every append past the first triggered a merge
    man = read_manifest(spark, path)
    assert len(man) == 1
    merged = read_segmented_index(spark, path)
    assert merged.n_docs == full.count()
    one = build_index(full, profile="text_en")
    a = bm25_topk(merged, QUERIES[0], k=10).select("doc_id", "score").collect()
    b = bm25_topk(one, QUERIES[0], k=10).select("doc_id", "score").collect()
    assert [r["doc_id"] for r in a] == [r["doc_id"] for r in b]
    full.unpersist()


def test_compact_rejects_live_out_key(spark, snap_path):
    path, _, _, _ = snap_path
    with pytest.raises(ValueError, match="already a live segment"):
        compact(spark, path, out_key="seg0")


def test_maybe_compact_triggers_on_segment_count(spark, tmp_path):
    from solr_sematic_importer_spark.operators.segments import maybe_compact

    path = str(tmp_path / "tiered")
    full = synthetic_transcripts(spark, 12).persist()
    bounds = ["conv_00000003", "conv_00000006", "conv_00000009"]
    parts = [
        full.filter(F.col("conv_id") < bounds[0]),
        full.filter((F.col("conv_id") >= bounds[0]) & (F.col("conv_id") < bounds[1])),
        full.filter((F.col("conv_id") >= bounds[1]) & (F.col("conv_id") < bounds[2])),
        full.filter(F.col("conv_id") >= bounds[2]),
    ]
    for i, p in enumerate(parts[:3]):
        append_segment(spark, path, f"s{i}", p, bucket_bits=8)
        # under threshold: no merge
        assert maybe_compact(spark, path, max_segments=3) is None
    append_segment(spark, path, "s3", parts[3], bucket_bits=8)
    out = maybe_compact(spark, path, max_segments=3)
    assert out is not None
    man = read_manifest(spark, path)
    assert len(man) == 1 and int(man["n_docs"].iloc[0]) == full.count()
    # merged index answers identically to a one-shot build
    merged = read_segmented_index(spark, path)
    assert merged.n_docs == full.count()
    full.unpersist()


# ---------------------------------------------------------------------------
# round-5 review: encode-parameter contract, /get edge, triggers, hygiene
# ---------------------------------------------------------------------------


def _n_persistent(sp):
    return sp.sparkContext._jsc.sc().getPersistentRDDs().size()


def test_impact_params_are_an_encoding_contract(spark, tmp_path):
    """k1/b fold into the stored max_impact bounds, so they are part of
    the segment encoding: appends must agree, WAND must be queried with
    the encoded values, and compact must not mix parameters."""
    path = str(tmp_path / "kbidx")
    full = synthetic_transcripts(spark, 30)
    lo = full.filter(F.col("conv_id") < "conv_00000015")
    hi = full.filter(F.col("conv_id") >= "conv_00000015")
    append_segment(spark, path, "lo", lo, bucket_bits=8, k1=2.0, b=0.5)
    # mixing parameters across segments is rejected
    with pytest.raises(ValueError, match="impacts with"):
        append_segment(spark, path, "hi", hi, bucket_bits=8, k1=1.2, b=0.75)
    append_segment(spark, path, "hi", hi, bucket_bits=8, k1=2.0, b=0.5)

    idx = read_segmented_index(spark, path)
    assert (idx.impact_k1, idx.impact_b) == (2.0, 0.5)
    # querying WAND with a different similarity raises instead of
    # silently returning a wrong top-k under invalid bounds
    with pytest.raises(ValueError, match="encoded with k1"):
        bm25_topk_wand(idx, QUERIES[0], k=5)  # default k1=1.2
    got = [(r["doc_id"], r["score"])
           for r in bm25_topk_wand(idx, QUERIES[0], k=5, k1=2.0, b=0.5).collect()]
    want = [(r["doc_id"], r["score"])
            for r in bm25_topk(idx, QUERIES[0], k=5, k1=2.0, b=0.5)
            .select("doc_id", "score").collect()]
    assert got == want and got
    # compact validates too
    with pytest.raises(ValueError, match="impacts with"):
        compact(spark, path)  # default k1/b
    compact(spark, path, k1=2.0, b=0.5)
    idx2 = read_segmented_index(spark, path)
    assert (idx2.impact_k1, idx2.impact_b) == (2.0, 0.5)
    idx.release()
    idx2.release()


def test_segment_encoding_inherited_and_conflicts_rejected_before_write(
    spark, tmp_path
):
    """profile, bucket_bits and k1/b are ONE encoding per index. None (the
    default of append_segment and update_documents) inherits the
    manifest's values; an explicit conflict raises before anything is
    written, so the index stays readable and compactable."""
    import os

    from solr_sematic_importer_spark.operators.segments import update_documents

    path = str(tmp_path / "encidx")
    full = synthetic_transcripts(spark, 20).persist()
    append_segment(spark, path, "base", full, profile="text_general",
                   bucket_bits=8, k1=2.0, b=0.5)
    for kw in ({"profile": "text_en"}, {"bucket_bits": 14}, {"k1": 1.2},
               {"b": 0.75}):
        with pytest.raises(ValueError, match="existing segments"):
            append_segment(spark, path, "bad", full, **kw)
    with pytest.raises(ValueError, match="existing segments"):
        update_documents(spark, path, "bad", full, bucket_bits=14)
    assert not os.path.exists(f"{path}/segments/bad")
    assert list(read_manifest(spark, path)["segment_key"]) == ["base"]

    victim = full.first()["conv_id"]
    new_turns = full.filter(F.col("conv_id") == victim).withColumn(
        "text", F.lit("Xylophone replacement")
    )
    update_documents(spark, path, "upd", new_turns)
    man = read_manifest(spark, path)
    assert set(man["profile"]) == {"text_general"}
    assert set(man["bucket_bits"]) == {8}
    assert set(zip(man["impact_k1"], man["impact_b"])) == {(2.0, 0.5)}
    idx = read_segmented_index(spark, path)
    hits = bm25_topk_wand(idx, "xylophone", k=50, k1=2.0, b=0.5).collect()
    assert len(hits) == new_turns.count()
    assert all(h["doc_id"] >= man["doc_id_offset"].max() for h in hits)
    idx.release()
    compact(spark, path, k1=2.0, b=0.5)
    assert read_segmented_index(spark, path).n_docs == full.count()
    full.unpersist()


def test_get_by_key_empty_request_returns_nothing(spark, seg_path):
    path = seg_path[0]
    assert get_by_key(spark, path, []).count() == 0


def test_maybe_compact_deletes_pending_trigger(spark, tmp_path):
    """Pending durable deletes trigger a merge even below the segment-
    count threshold, and the trigger self-quiesces once the vector is
    cleared."""
    from solr_sematic_importer_spark.operators.segments import maybe_compact

    path = str(tmp_path / "trigidx")
    full = synthetic_transcripts(spark, 20)
    append_segment(spark, path, "a",
                   full.filter(F.col("conv_id") < "conv_00000010"), bucket_bits=8)
    append_segment(spark, path, "b",
                   full.filter(F.col("conv_id") >= "conv_00000010"), bucket_bits=8)
    assert maybe_compact(spark, path, max_segments=8) is None
    idx = read_segmented_index(spark, path)
    victims = idx.doc_stats.filter(F.col("doc_id") % 50 == 0).select("doc_id")
    record_deletes(spark, path, victims)
    idx.release()
    out = maybe_compact(spark, path, max_segments=8)
    assert out is not None  # deletes-pending fired below the count gate
    assert maybe_compact(spark, path, max_segments=8) is None  # quiesced


def test_read_segmented_index_release_frees_cache(spark, seg_path):
    path = seg_path[0]
    idx = read_segmented_index(spark, path)
    idx.term_stats.count()
    lvl = idx.term_stats.storageLevel
    assert lvl.useMemory or lvl.useDisk  # persisted by the reader
    idx.release()
    lvl = idx.term_stats.storageLevel
    assert not (lvl.useMemory or lvl.useDisk)  # freed by release()


def test_segmented_key_cols_natural_only(spark, seg_path):
    path = seg_path[0]
    idx = read_segmented_index(spark, path)
    assert tuple(idx.key_cols) == ("conv_id", "turn_idx")
    idx.release()


def test_delete_by_query_releases_superseded_vector(spark):
    from solr_sematic_importer_spark.operators.build import delete_by_query

    docs = synthetic_transcripts(spark, 10)
    idx = build_index(docs, profile="simple")
    before = _n_persistent(spark)
    for i in range(4):
        delete_by_query(idx, F.col("doc_id") % 7 == i)
        idx.deletes.count()
        # exactly ONE delete vector stays persisted however many times
        # the query runs
        assert _n_persistent(spark) == before + 1
    idx.deletes.unpersist()
    idx.release()
