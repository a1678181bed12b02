"""Pagination (T3), prohibited terms, and delete-by-query (Q6)."""

import pytest
from pyspark.sql import functions as F

from solr_sematic_importer_spark.operators.block_postings import bm25_topk_wand
from solr_sematic_importer_spark.operators.build import (
    build_and_write_index,
    build_index,
    delete_by_query,
)
from solr_sematic_importer_spark.operators.score import bm25_topk
from solr_sematic_importer_spark.sources.transcripts import synthetic_transcripts


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    df = synthetic_transcripts(spark, 80)
    path = str(tmp_path_factory.mktemp("query_features") / "idx")
    return build_and_write_index(df, path, profile="text_en", bucket_bits=8)


def _ids(rows):
    return [r["doc_id"] for r in rows]


def test_offset_pagination(idx):
    full = bm25_topk(idx, "you one word", k=30).select("doc_id", "score").collect()
    page2 = bm25_topk(idx, "you one word", k=10, offset=10).select(
        "doc_id", "score"
    ).collect()
    assert _ids(page2) == _ids(full)[10:20]
    page_beyond = bm25_topk(idx, "zeppelin", k=10, offset=10_000).collect()
    assert page_beyond == []


def test_exclude_terms(idx):
    got = bm25_topk(idx, "you one", k=50, exclude="word").collect()
    banned = {
        r["doc_id"]
        for r in idx.postings_flat.filter(F.col("term") == "word")
        .select("doc_id")
        .collect()
    }
    assert got and all(r["doc_id"] not in banned for r in got)


def test_cursor_paging_reconstructs_full_ranking(idx):
    """Walking cursorMark pages concatenates to exactly the one-shot
    top-N ranking — no gaps, no repeats, across tied scores."""
    from solr_sematic_importer_spark.operators.select import select

    full = bm25_topk(idx, "you one word", k=30).select("doc_id", "score").collect()
    pages, cur = [], None
    for _ in range(3):
        kw = {"cursor_mark": cur} if cur is not None else {}
        page = select(idx, "you one word", rows=10, **kw).docs.collect()
        if not page:
            break
        pages.extend(page)
        cur = (float(page[-1]["score"]), int(page[-1]["doc_id"]))
    assert [(r["doc_id"], r["score"]) for r in pages] == [
        (r["doc_id"], r["score"]) for r in full
    ]


def test_grouped_topk_heads(spark, idx):
    """Solr result grouping: one head per group, ordered by head score,
    identical to a manual window over the full scored set."""
    from solr_sematic_importer_spark.operators.score import score_or_docs
    from solr_sematic_importer_spark.operators.select import select

    # group = conv bucket parity derived from doc_id
    groups = idx.doc_stats.select(
        "doc_id", (F.col("doc_id") % 3).cast("string").alias("grp")
    )
    got = select(idx, "you one word", fields=groups, collapse_field="grp",
                 rows=10).docs.collect()
    assert 1 <= len(got) <= 3  # at most one row per group

    scored = {
        r["doc_id"]: r["score"]
        for r in score_or_docs(idx, "you one word").collect()
    }
    want_heads = {}
    for did, s in scored.items():
        g = str(did % 3)
        if g not in want_heads or (s, -did) > (want_heads[g][1], -want_heads[g][0]):
            want_heads[g] = (did, s)
    want = sorted(want_heads.items(), key=lambda kv: (-kv[1][1], kv[1][0]))
    assert [(r["grp"], r["doc_id"]) for r in got] == [(g, d) for g, (d, _) in want]


def test_delete_by_query_masks_docs(idx):
    before = bm25_topk(idx, "zeppelin", k=10).select("doc_id", "score").collect()
    assert before
    victim = before[0]["doc_id"]
    delete_by_query(idx, F.col("doc_id") == victim)
    try:
        after = bm25_topk(idx, "zeppelin", k=10).select("doc_id", "score").collect()
        assert victim not in _ids(after)
        assert _ids(after) == [d for d in _ids(before) if d != victim][: len(after)]
        # WAND path honors the deletion vector too
        wand = bm25_topk_wand(idx, "zeppelin", k=10).collect()
        assert victim not in _ids(wand)
        assert _ids(wand)[: len(after)] == _ids(after)
    finally:
        idx.deletes = None


# ------------------------------------------------- fuzzy fidelity (r4)

def test_fuzzy_expansion_cap_prefers_high_df(spark):
    """Lucene FuzzyQuery keeps at most maxExpansions=50 members; within a
    boost tier the cap keeps the highest-df members (the ones a blended
    rewrite wants statistics from)."""
    from solr_sematic_importer_spark.operators.score import fuzzy_expand_terms

    # 100 terms t00..t99, df(tNN) = 100 - NN (t00 in every doc, t99 in one)
    rows = [(j, " ".join(f"t{i:02d}" for i in range(j + 1))) for j in range(100)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    idx = build_index(docs, text_col="text", key_cols=("doc_id",),
                      profile="simple", doc_id_col="doc_id")
    # 'txx' is 2 substitutions from every tNN -> 100 candidates, one boost
    # tier (1 - 2/3); the cap must keep the 50 highest-df members
    members = fuzzy_expand_terms(idx, "txx", distance=2, max_expansions=50)
    assert len(members) == 50
    kept = {t for t, _, _ in members}
    assert kept == {f"t{i:02d}" for i in range(50)}
    assert all(b == pytest.approx(1.0 - 2 / 3) for _, _, b in members)


def test_fuzzy_distance_boost_ranks_closer_terms_higher(spark):
    """Members at smaller edit distance get a larger similarity boost
    (1 - d/min(len)), so a doc matching the d=1 member outranks an
    otherwise-identical doc matching only a d=2 member."""
    from solr_sematic_importer_spark.operators.score import bm25_fuzzy_topk

    docs = spark.createDataFrame(
        [(0, "merge filler"), (1, "marge filler"), (2, "filler only")],
        "doc_id long, text string",
    )
    idx = build_index(docs, text_col="text", key_cols=("doc_id",),
                      profile="simple", doc_id_col="doc_id")
    # query 'merge': d(merge)=0 -> boost 1.0; d(marge)=1 -> boost 0.8
    rows = bm25_fuzzy_topk(idx, "merge", distance=2, k=10,
                           quantize=False).collect()
    scores = {r["doc_id"]: r["score"] for r in rows}
    assert 0 in scores and 1 in scores and 2 not in scores
    # same dl, same blended idf -> ratio is exactly the boost ratio
    assert scores[1] / scores[0] == pytest.approx(0.8, abs=1e-12)


def test_fuzzy_empty_term_raises_value_error(spark):
    """An empty fuzzy term is rejected by name. It used to divide by zero
    whenever the vocabulary held a term of <= ``distance`` characters
    (the similarity boost divides by min(len(member), len(target)))."""
    from solr_sematic_importer_spark.operators.score import bm25_fuzzy_topk

    docs = spark.createDataFrame(
        [(0, "a ab merge"), (1, "ab filler")], "doc_id long, text string"
    )
    idx = build_index(docs, text_col="text", key_cols=("doc_id",),
                      profile="simple", doc_id_col="doc_id")
    with pytest.raises(ValueError, match="non-empty term, got ''"):
        bm25_fuzzy_topk(idx, "", distance=2)
    # a one-character term still expands
    assert bm25_fuzzy_topk(idx, "a", distance=1).first()["doc_id"] == 0
    idx.release()


# ------------------------------------------------- conditional mm (r4)

def test_mm_conditional_specs_solr_grammar():
    """SolrPluginUtils conditional grammar '2<-25% 9<-3' (the Solr ref
    guide's own example): <=2 clauses -> all required; 3..9 -> all but
    25%; >9 -> all but 3."""
    from solr_sematic_importer_spark.operators.score import (
        calculate_min_should_match as mm,
    )

    spec = "2<-25% 9<-3"
    assert mm(spec, 1) == 1
    assert mm(spec, 2) == 2          # at or below first N: all required
    assert mm(spec, 3) == 3          # 3 - floor(3*25/100)=0 -> 3
    assert mm(spec, 4) == 3          # 4 - 1
    assert mm(spec, 8) == 6          # 8 - 2
    assert mm(spec, 9) == 7          # 9 - 2 (still first matching pair)
    assert mm(spec, 10) == 7         # second pair: 10 - 3
    assert mm(spec, 16) == 13
    # single conditional pair, whitespace around '<' tolerated
    assert mm("3 < 90%", 3) == 3
    assert mm("3<90%", 10) == 9
    # plain specs unchanged through the same entry point
    assert mm("75%", 4) == 3
    assert mm(-1, 5) == 4


def test_grouped_zero_match_schema_follows_group_dtype(spark, idx):
    """Result grouping through select(): the zero-hit page keeps the group
    column dtype of the caller's groups frame (an int grp stays int), so
    unions across queries never schema-mismatch (round-5 review)."""
    from solr_sematic_importer_spark.operators.select import select

    groups_int = idx.doc_stats.select(
        "doc_id", (F.col("doc_id") % 3).alias("grp")
    )

    def grouped(q):
        page = select(idx, q, fields=groups_int, collapse_field="grp", rows=5).docs
        return page.select("grp", "doc_id", "score")

    hit = grouped("you one word")
    miss = grouped("zzznosuchterm")
    assert miss.count() == 0
    assert miss.schema == hit.schema
    assert hit.unionByName(miss).count() == hit.count()
