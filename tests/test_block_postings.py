"""Block postings + block-max WAND: identical top-k vs exhaustive scoring
(SURVEY §7.1 step 8 acceptance: "assert identical top-k vs exhaustive")."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from solr_sematic_importer_spark.functions.codec import BLOCK_COLUMNS, decode_block
from solr_sematic_importer_spark.operators.block_postings import bm25_topk_wand
from solr_sematic_importer_spark.operators.build import (
    build_and_write_index,
    build_index,
)
from solr_sematic_importer_spark.operators.score import bm25_topk
from solr_sematic_importer_spark.sources.transcripts import synthetic_transcripts

N_CONVS = 120

QUERIES = [
    "zeppelin",
    "zeppelin quartz obsidian",
    "the you one word",          # hot head terms -> many candidate buckets
    "running runs indexing",
    "word can use how said each",
    "nonexistentterm42",
    "",
]


@pytest.fixture(scope="module")
def blocked(spark, tmp_path_factory):
    df = synthetic_transcripts(spark, N_CONVS)
    # small buckets (256 docs) so the corpus spans many buckets and the
    # WAND early-stop actually exercises; doc_vectors keep the analyzer's
    # output as the reference the encode is checked against
    idx = build_and_write_index(
        df, str(tmp_path_factory.mktemp("blocked") / "idx"), profile="text_en",
        bucket_bits=8, write_doc_vectors=True,
    )
    blocks = idx.postings_blocks
    return idx, blocks


def test_blocks_cover_all_postings(blocked):
    """The encode drops no posting: the blocks' counts equal the analyzer
    output (one posting per distinct term of a doc), in total and per
    term."""
    idx, blocks = blocked
    got = blocks.agg(F.sum("cnt")).first()[0]
    want = idx.doc_vectors.select(F.sum(F.size("terms"))).first()[0]
    assert got == want
    per_term = blocks.groupBy("term").agg(F.sum("cnt").alias("c"))
    analyzed_df = (
        idx.doc_vectors.select(F.explode("terms").alias("term"))
        .groupBy("term").agg(F.count("*").alias("df"))
    )
    for counted in (per_term, idx.term_stats.select("term", F.col("df").alias("c"))):
        joined = counted.join(analyzed_df, "term", "full_outer")
        assert joined.filter(
            F.col("c").isNull() | F.col("df").isNull() | (F.col("c") != F.col("df"))
        ).count() == 0


def test_blocks_disjoint_sorted_within_bucket(blocked):
    _, blocks = blocked
    rows = blocks.filter(F.col("term") == "zeppelin").orderBy(
        "bucket_id", "block_id"
    ).collect()
    assert rows
    prev = -1
    for r in rows:
        docs, tfs, norms = decode_block(
            r["first_doc"], r["doc_bytes"], r["tf_bytes"], r["norm_bytes"]
        )
        assert docs[0] > prev
        assert np.all(np.diff(docs) > 0)
        # every doc in the block belongs to the row's bucket
        assert np.all((docs >> 8) == r["bucket_id"])
        assert r["max_tf"] == tfs.max()
        prev = int(docs[-1])


def test_wand_identical_to_exhaustive(blocked):
    idx, _ = blocked
    for q in QUERIES:
        exh = [
            (r["doc_id"], r["score"])
            for r in bm25_topk(idx, q, k=10, quantize=True)
            .select("doc_id", "score")
            .collect()
        ]
        wand = [
            (r["doc_id"], r["score"])
            for r in bm25_topk_wand(idx, q, k=10, bucket_batch=8).collect()
        ]
        assert [d for d, _ in wand] == [d for d, _ in exh], q
        for (_, ws), (_, es) in zip(wand, exh):
            assert ws == pytest.approx(es, abs=1e-12), q


def test_wand_iterative_bucket_selection_identical(blocked):
    """Force the ITERATIVE UB-batched path (fast_path=False) with a tiny
    bucket_batch so bucket count >> batch: many orderBy/limit rounds with
    the theta filter must still produce bit-identical results — no bucket
    skipped that could contribute, none scored twice."""
    idx, blocks = blocked
    n_buckets = blocks.select("bucket_id").distinct().count()
    assert n_buckets > 8  # bucket_bits=8 on this corpus -> dozens of buckets
    for q in ["the you one word", "zeppelin quartz obsidian", "word can use how said each"]:
        exh = [
            (r["doc_id"], r["score"])
            for r in bm25_topk(idx, q, k=10, quantize=True)
            .select("doc_id", "score")
            .collect()
        ]
        wand = [
            (r["doc_id"], r["score"])
            for r in bm25_topk_wand(
                idx, q, k=10, bucket_batch=3, fast_path=False
            ).collect()
        ]
        assert wand == [(d, pytest.approx(s, abs=1e-12)) for d, s in exh], q


def test_wand_k_larger_than_hits(blocked):
    idx, _ = blocked
    got = bm25_topk_wand(idx, "zeppelin", k=10_000).collect()
    df_z = idx.term_stats.filter(F.col("term") == "zeppelin").first()["df"]
    assert len(got) == df_z


def test_hot_term_skew_bounded_by_bucket_salt(spark, tmp_path):
    """The skew guarantee (SURVEY §4.1): a term occurring in EVERY doc
    (the empty-stopword 'the' scenario at 10^12 scale) still never
    produces an encode group larger than the bucket width — the bucket IS
    the salt, so group size is structurally bounded, not data-dependent."""
    n = 2000
    docs = spark.createDataFrame(
        [(i, f"hot filler{i} filler{i%7}") for i in range(n)],
        "doc_id long, text string",
    )
    idx = build_and_write_index(
        docs, str(tmp_path / "hot"), text_col="text", key_cols=(),
        profile="simple", doc_id_col="doc_id", bucket_bits=6,  # 64-doc buckets
    )
    blocks = idx.postings_blocks
    hot = blocks.filter(F.col("term") == "hot")
    per_group = hot.groupBy("bucket_id").agg(F.sum("cnt").alias("n")).collect()
    assert len(per_group) == (n + 63) // 64          # spread over all buckets
    assert all(r["n"] <= 64 for r in per_group)      # hard bound per group
    assert sum(r["n"] for r in per_group) == n       # nothing lost
    # and the hot-term query still ranks fine over the salted layout
    got = bm25_topk_wand(idx, "hot", k=5).collect()
    assert len(got) == 5


def test_build_and_write_index_matches_memory_path(spark, tmp_path):
    """One build, one format: the in-memory build, the disk build and a
    one-segment append run the same stages, so they produce byte-identical
    block rows, identical term_stats and the same encoding metadata — and
    every read path scores the same."""
    from solr_sematic_importer_spark.operators.segments import (
        append_segment,
        read_segmented_index,
    )

    df = synthetic_transcripts(spark, N_CONVS)
    mem = build_index(df, profile="text_en")
    disk = build_and_write_index(df, str(tmp_path / "idx"), profile="text_en")
    append_segment(spark, str(tmp_path / "seg"), "only", df)
    seg = read_segmented_index(spark, str(tmp_path / "seg"))

    def block_rows(idx):
        rows = idx.postings_blocks.select(*BLOCK_COLUMNS).collect()
        return sorted(tuple(r) for r in rows)

    def term_stats(idx):
        return {r["term"]: (r["df"], r["ttf"]) for r in idx.term_stats.collect()}

    def encoding(idx):
        return (idx.n_docs, idx.sum_dl, idx.min_doc_id, idx.max_doc_id,
                idx.impacts_avgdl, idx.impact_k1, idx.impact_b, idx.bucket_bits)

    want_blocks, want_stats = block_rows(mem), term_stats(mem)
    for other in (disk, seg):
        assert block_rows(other) == want_blocks
        assert term_stats(other) == want_stats
        assert encoding(other) == encoding(mem)

    def exhaustive(idx, q, quantize):
        return [(r["doc_id"], r["score"])
                for r in bm25_topk(idx, q, k=10, quantize=quantize)
                .select("doc_id", "score").collect()]

    for q in QUERIES[:5]:
        a = [(r["doc_id"], r["score"]) for r in bm25_topk_wand(mem, q, k=10).collect()]
        for other in (disk, seg):
            assert [(r["doc_id"], r["score"])
                    for r in bm25_topk_wand(other, q, k=10).collect()] == a, q
        # exact dl reaches the decoded postings through the doc_stats join,
        # so quantize=False scores agree between memory and disk too
        for quantize in (True, False):
            assert exhaustive(disk, q, quantize) == exhaustive(mem, q, quantize), q
        c = exhaustive(disk, q, True)
        assert [d for d, _ in c] == [d for d, _ in a], q
        for (_, sa), (_, sc) in zip(a, c):
            assert sc == pytest.approx(sa, abs=1e-12)
    mem.release()
    seg.release()


def test_wand_refuses_deletes_without_bucket_bits(spark, blocked, tmp_path):
    """ADVICE r3: with pending deletes and NO bucket_bits metadata the
    delete slices could join onto wrong bucket_ids and resurrect deleted
    docs — the scorer must refuse instead of guessing a width."""
    idx, _ = blocked
    import copy

    broken = copy.copy(idx)
    broken.deletes = spark.createDataFrame([(0,)], "doc_id long")
    broken.bucket_bits = None
    with pytest.raises(ValueError, match="bucket_bits"):
        bm25_topk_wand(broken, "zeppelin", k=5).collect()


def test_flat_terms_filters_blocks_scan_before_decode(spark, tmp_path):
    """On a blocks-only index, flat_terms() must push the term filter
    into the BLOCKS parquet scan (before the Python decode stage) — a
    filter on the decoded view cannot cross the mapInArrow barrier and
    would decode the whole index per query."""
    df = synthetic_transcripts(spark, 30)
    disk = build_and_write_index(df, str(tmp_path / "fidx"), profile="text_en")
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        disk.flat_terms(["zeppelin", "quartz"]).explain("formatted")
    plan = buf.getvalue()
    # the In(term) filter must be PUSHED into a parquet scan (the blocks
    # scan — the only table with a term column), i.e. applied before the
    # Python decode stage (MapInArrow), which no filter can cross
    assert "MapInArrow" in plan, plan
    pushed = [
        ln for ln in plan.splitlines()
        if "PushedFilters" in ln and "In(term" in ln
    ]
    assert pushed, plan
    # correctness: restricted view equals the full flat view's slice
    full = {
        (r["term"], r["doc_id"], r["tf"])
        for r in disk.postings_flat.filter(
            F.col("term").isin(["zeppelin", "quartz"])
        ).collect()
    }
    fast = {
        (r["term"], r["doc_id"], r["tf"])
        for r in disk.flat_terms(["zeppelin", "quartz"]).collect()
    }
    assert fast == full and fast


def test_wand_exact_ties_across_buckets(spark, tmp_path):
    """Exact score ties spread across buckets: the WAND prune keeps
    buckets whose upper bound EQUALS theta (>=, not >) so a tied doc
    with a smaller doc_id can still win the (score desc, doc_id asc)
    tie-break — bit-identical rows to the exhaustive scorer, ties
    included (round-5 review)."""
    texts = [
        "tied term alpha beta",
        "tied term gamma delta",
        "other filler words here",
    ]
    rows = [
        (rep * 100 + i, t)
        for rep in range(6)
        for i, t in enumerate(texts)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    idx = build_and_write_index(
        df, str(tmp_path / "ties"), text_col="text", key_cols=(),
        profile="simple", doc_id_col="doc_id", bucket_bits=6,  # ids span 8+ buckets
    )
    for k in (1, 5, 11, 12, 13):
        want = [(r["doc_id"], r["score"])
                for r in bm25_topk(idx, "tied", k=k).select("doc_id", "score")
                .collect()]
        got = [(r["doc_id"], r["score"])
               for r in bm25_topk_wand(idx, "tied", k=k, bucket_batch=1)
               .collect()]
        assert got == want, k
    idx.release()
