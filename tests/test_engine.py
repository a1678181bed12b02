"""End-to-end engine tests: build -> query rank-identity vs the pure-Python
oracle; per-turn text equality invariant; docID stability (SURVEY §5.2)."""

import os

import pytest
from pyspark.sql import functions as F

from solr_sematic_importer_spark.operators.build import build_index
from solr_sematic_importer_spark.operators.docid import assign_doc_ids, hash_partition, range_label
from solr_sematic_importer_spark.operators.score import bm25_conjunction_topk, bm25_topk
from solr_sematic_importer_spark.sources.transcripts import (
    generate_conversations_pdf,
    synthetic_transcripts,
)

from .oracle import OracleIndex

N_CONVS = 60

QUERIES = [
    "zeppelin",                      # rare term
    "the",                           # hot term (empty stopword list keeps it)
    "state of the art",              # multi-term OR with stopwords
    "running indexes",               # stemming variants
    "dontstems zwhacky",             # protected words
    "user's agent",                  # possessive
    "a an and",                      # stopword-only under text_en -> empty
    "quartz obsidian flamingo",      # multiple rare terms, one doc
    "the the the",                   # duplicate query terms (multiplicity)
    "nonexistentterm42",             # zero-hit
]


@pytest.fixture(scope="module")
def corpus_pdf():
    return (
        generate_conversations_pdf(list(range(N_CONVS)))
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )


@pytest.fixture(scope="module", params=["text_en", "text_general"])
def built(request, spark, corpus_pdf):
    df = spark.createDataFrame(corpus_pdf)
    idx = build_index(df, profile=request.param)
    oracle = OracleIndex(
        list(corpus_pdf[["conv_id", "turn_idx", "text"]].itertuples(index=False)),
        text_idx=2,
        profile=request.param,
    )
    return idx, oracle


def test_per_turn_text_equality(spark, corpus_pdf):
    """input_hint invariant: the table round-trips with text equality under
    stable (conv_id, turn_idx) ordering."""
    df = synthetic_transcripts(spark, N_CONVS, partitions=7)
    got = df.orderBy("conv_id", "turn_idx").select("conv_id", "turn_idx", "text").toPandas()
    assert list(got["text"]) == list(corpus_pdf["text"])
    assert list(got["turn_idx"]) == list(corpus_pdf["turn_idx"])


def test_doc_ids_dense_and_order_stable(spark, corpus_pdf):
    df = spark.createDataFrame(corpus_pdf)
    for nparts in (2, 5):
        ids = (
            assign_doc_ids(df.repartition(nparts), num_partitions=nparts)
            .select("doc_id", "conv_id", "turn_idx")
            .orderBy("doc_id")
            .toPandas()
        )
        assert list(ids["doc_id"]) == list(range(len(corpus_pdf)))
        # rank order == (conv_id, turn_idx) order
        assert list(ids["conv_id"]) == list(corpus_pdf["conv_id"])
        assert list(ids["turn_idx"]) == list(corpus_pdf["turn_idx"])


def test_doc_ids_pin_no_rdd(spark, corpus_pdf):
    """assign_doc_ids persists nothing: once its output is consumed the
    session holds as many persisted RDDs as before, and the ids are still
    the rank in (conv_id, turn_idx) order."""
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    ids = (
        assign_doc_ids(spark.createDataFrame(corpus_pdf), num_partitions=3)
        .select("doc_id", "conv_id", "turn_idx")
        .toPandas()
        .sort_values("doc_id")
    )
    assert jsc.getPersistentRDDs().size() == before
    assert list(ids["doc_id"]) == list(range(len(corpus_pdf)))
    assert list(ids["conv_id"]) == list(corpus_pdf["conv_id"])
    assert list(ids["turn_idx"]) == list(corpus_pdf["turn_idx"])


def test_doc_id_range_search_is_logarithmic(spark):
    """A row's key range is a binary search over the range starts: with
    4,096 ranges the expression is 12 CASE levels deep, not a 4,096-term
    sum, and every row gets the label of the range ``bisect_right``
    gives."""
    import bisect
    import re

    starts = list(range(0, 3 * 4096, 3))[1:]  # 4,095 starts -> 4,096 ranges
    labels = [7 * i + 1 for i in range(4096)]
    expr = range_label(F.col("k"), [F.lit(s) for s in starts], labels)
    depth = level = 0
    for word in re.findall(r"\b(?:CASE|END)\b", str(expr)):
        level += 1 if word == "CASE" else -1
        depth = max(depth, level)
    assert depth == 12
    keys = [-1, 0, 2, 3, 4, 3000, 6143, 12284, 12285, 99999]
    got = spark.createDataFrame([(k,) for k in keys], "k long").select("k", expr.alias("r"))
    assert {r["k"]: r["r"] for r in got.collect()} == {
        k: labels[bisect.bisect_right(starts, k)] for k in keys
    }


def test_hash_partition_matches_spark(spark):
    """The doc-id stamp gives each key range a partition of its own by
    predicting where ``repartition(n, col)`` sends an int."""
    for n in (1, 3, 8, 37):
        got = (
            spark.range(200).select(F.col("id").cast("int").alias("v"))
            .repartition(n, "v")
            .select("v", F.spark_partition_id().alias("p"))
            .collect()
        )
        assert {r["v"]: r["p"] for r in got} == {v: hash_partition(v, n) for v in range(200)}


def test_corpus_stats_match_oracle(built):
    idx, oracle = built
    assert idx.n_docs == oracle.n
    assert idx.sum_dl == oracle.sum_dl
    assert idx.avgdl == pytest.approx(oracle.avgdl, abs=0)


@pytest.mark.parametrize("quantize", [True, False])
def test_rank_identity_vs_oracle(built, quantize):
    idx, oracle = built
    for q in QUERIES:
        got = [
            (r["doc_id"], r["score"])
            for r in bm25_topk(idx, q, k=10, quantize=quantize)
            .select("doc_id", "score")
            .collect()
        ]
        want = oracle.query(q, k=10, quantize=quantize)
        assert [d for d, _ in got] == [d for d, _ in want], q
        for (_, gs), (_, ws) in zip(got, want):
            assert gs == pytest.approx(ws, abs=1e-9), q


def test_conjunction_subset_of_disjunction(built):
    idx, oracle = built
    got = bm25_conjunction_topk(idx, "the fast", k=50).collect()
    # every conjunctive hit contains both terms
    for r in got:
        tfs = idx.postings_flat.filter(
            (F.col("doc_id") == r["doc_id"]) & F.col("term").isin(["the", "fast"])
        ).count()
        assert tfs == 2
        break  # one spot-check is enough; full check is O(k) spark jobs


def test_fq_filter(built):
    idx, oracle = built
    # fq over doc metadata: restrict to conversation 0 (fixture conv)
    got = bm25_topk(idx, "zeppelin", k=10, extra_filter=F.col("conv_id") == "conv_00000000")
    for r in got.collect():
        assert r["conv_id"] == "conv_00000000"
    assert got.count() > 0


def test_block_join_parent_modes(spark):
    """{!parent} block join: parents ranked by max vs total child score;
    the best chunk is the top-scoring child with id-asc ties."""
    from pyspark.sql import functions as F

    from solr_sematic_importer_spark.operators.build import build_index
    from solr_sematic_importer_spark.operators.chunking import (
        block_join_parent_topk,
        char_chunks,
    )

    docs = spark.createDataFrame(
        [
            (1, "zebra stripes " * 12),          # many chunks each with 'zebra'
            (2, "one zebra here " + "filler words " * 20),  # one matching chunk
            (3, "no animals at all " * 10),
        ],
        "doc_id long, text string",
    )
    chunks = char_chunks(docs, size=60, overlap=10)
    cidx = build_index(chunks, text_col="chunk", key_cols=("id",), profile="simple")
    mx = block_join_parent_topk(cidx, "zebra", k=10, score_mode="max", quantize=False).collect()
    assert {r["parent_id"] for r in mx} == {1, 2}
    assert all(r["best_chunk"].split("#")[0] == str(r["parent_id"]) for r in mx)
    tot = block_join_parent_topk(cidx, "zebra", k=10, score_mode="total", quantize=False).collect()
    t = {r["parent_id"]: r["score"] for r in tot}
    m = {r["parent_id"]: r["score"] for r in mx}
    assert t[1] > m[1]          # many matching chunks accumulate
    assert t[2] == m[2]         # single matching chunk: total == max
    assert block_join_parent_topk(cidx, "", k=5).count() == 0


def test_term_dfs_memoizes_per_handle(built):
    """The shared df memo: the second lookup of the same terms must not
    touch term_stats at all (repeat queries / composed select stages cost
    zero lookup jobs), and unindexed terms memoize as 0."""
    from solr_sematic_importer_spark.operators.build import term_dfs

    idx, _ = built
    d1 = term_dfs(idx, ["you", "zzznosuchterm"])
    assert d1["zzznosuchterm"] == 0 and d1["you"] > 0
    orig = idx.term_stats
    idx.term_stats = None  # poison: any lookup would raise
    try:
        d2 = term_dfs(idx, ["you", "zzznosuchterm"])
    finally:
        idx.term_stats = orig
    assert d2 == d1
    # and a repeat query end-to-end returns identical results warm
    a = [(r["doc_id"], r["score"]) for r in bm25_topk(idx, "you one", k=5).collect()]
    b = [(r["doc_id"], r["score"]) for r in bm25_topk(idx, "you one", k=5).collect()]
    assert a == b


def test_index_meta_json_control_file(spark, tmp_path):
    """index_meta is ONE driver-written JSON control file (no Spark job,
    no parquet commit protocol); read_index falls back to the legacy
    parquet key/value directory for indexes written before the format."""
    import shutil

    from solr_sematic_importer_spark.operators.build import (
        build_and_write_index,
        read_index,
    )
    from solr_sematic_importer_spark.sources.transcripts import synthetic_transcripts

    path = str(tmp_path / "jsonmeta")
    t = synthetic_transcripts(spark, 5)
    idx = build_and_write_index(t, path, profile="text_general")
    assert os.path.isfile(f"{path}/index_meta.json")
    assert not os.path.exists(f"{path}/index_meta")  # no parquet dir written
    got = read_index(spark, path)
    assert (got.n_docs, got.sum_dl, got.profile) == (
        idx.n_docs, idx.sum_dl, "text_general")

    # legacy layout: same key/values as a parquet dir, json absent
    meta_rows = [
        ("n_docs", str(idx.n_docs)), ("sum_dl", str(idx.sum_dl)),
        ("profile", idx.profile), ("key_cols", ",".join(idx.key_cols)),
        ("impacts_avgdl", repr(float(idx.impacts_avgdl))),
        ("bucket_bits", str(int(idx.bucket_bits))),
    ]
    spark.createDataFrame(meta_rows, "key string, value string").write.parquet(
        f"{path}/index_meta")
    os.remove(f"{path}/index_meta.json")
    legacy = read_index(spark, path)
    assert (legacy.n_docs, legacy.sum_dl, legacy.profile) == (
        idx.n_docs, idx.sum_dl, "text_general")
    shutil.rmtree(path, ignore_errors=True)
