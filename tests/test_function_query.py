"""Function queries, mm, re-ranking, collapse, JSON facet stats, elevation
(the remaining /select request params of the delegated handler,
semantic_base_config.zip -> solrconfig.xml:650-670), each checked through
select() against expectations computed independently from score_or_docs."""

import math

import pytest
from pyspark.sql import functions as F

from solr_sematic_importer_spark.operators.build import build_index
from solr_sematic_importer_spark.operators.function_query import recip
from solr_sematic_importer_spark.operators.score import (
    bm25_topk,
    calculate_min_should_match,
    score_or_docs,
)
from solr_sematic_importer_spark.operators.select import select
from solr_sematic_importer_spark.sources.transcripts import synthetic_transcripts


@pytest.fixture(scope="module")
def tdf(spark):
    df = synthetic_transcripts(spark, 60).withColumn(
        "n_chars", F.length("text")
    )
    df.persist().count()
    return df


@pytest.fixture(scope="module")
def idx(tdf):
    return build_index(tdf, profile="text_en")


@pytest.fixture(scope="module")
def fields(idx, tdf):
    """Stored-field table keyed by the engine-assigned doc_id."""
    f = idx.doc_stats.select("doc_id", "conv_id", "turn_idx").join(
        tdf, ["conv_id", "turn_idx"]
    ).select("doc_id", F.col("role").alias("grp"), "n_chars")
    f.persist().count()
    return f


Q = "you one word"


# ---------------------------------------------------------------- mm spec

def test_mm_spec_solr_semantics():
    # SolrPluginUtils.calculateMinShouldMatch table
    assert calculate_min_should_match(2, 5) == 2
    assert calculate_min_should_match("2", 5) == 2
    assert calculate_min_should_match(-1, 5) == 4
    assert calculate_min_should_match("-2", 5) == 3
    assert calculate_min_should_match("75%", 4) == 3
    assert calculate_min_should_match("50%", 5) == 2  # floor
    assert calculate_min_should_match("-25%", 4) == 3
    assert calculate_min_should_match(0, 5) == 0
    # clamped to [0, n]
    assert calculate_min_should_match(9, 3) == 3
    assert calculate_min_should_match(-9, 3) == 0


def test_mm_filters_partial_matches(idx):
    base = {r["doc_id"] for r in score_or_docs(idx, Q).collect()}
    mm_all = score_or_docs(idx, Q, min_match=3)
    strict = {r["doc_id"] for r in mm_all.collect()} if mm_all is not None else set()
    # mm=n_terms must equal the conjunction's match set
    from solr_sematic_importer_spark.operators.score import bm25_conjunction_topk

    conj = {
        r["doc_id"] for r in bm25_conjunction_topk(idx, Q, k=10_000).collect()
    }
    assert strict == conj
    assert strict <= base
    # mm=1 is plain OR
    mm1 = {r["doc_id"] for r in score_or_docs(idx, Q, min_match=1).collect()}
    assert mm1 == base


def test_mm_counts_duplicate_tokens_as_clauses(idx):
    """'word word' has TWO optional clauses on one term (Lucene builds one
    SHOULD TermQuery per token): mm=2 must still admit docs that match
    only 'word', because both clauses are that term."""
    dup = {
        r["doc_id"]
        for r in score_or_docs(idx, "word word", min_match=2).collect()
    }
    single = {r["doc_id"] for r in score_or_docs(idx, "word").collect()}
    assert dup == single


def test_mm_scores_unchanged(idx):
    """mm gates membership, never scores: survivors keep their OR score."""
    base = {
        r["doc_id"]: r["score"] for r in score_or_docs(idx, Q).collect()
    }
    for r in score_or_docs(idx, Q, min_match=2).collect():
        assert math.isclose(r["score"], base[r["doc_id"]], rel_tol=0, abs_tol=0)


# ---------------------------------------------------------------- boost

def test_boost_multiplicative(idx, fields):
    base = {r["doc_id"]: r["score"] for r in score_or_docs(idx, Q).collect()}
    lens = {r["doc_id"]: r["n_chars"] for r in fields.collect()}
    got = select(
        idx, Q, fields=fields, boost=recip(F.col("n_chars"), 0.01, 1.0, 1.0), rows=5
    ).docs.collect()
    for r in got:
        expect = base[r["doc_id"]] * (1.0 / (0.01 * lens[r["doc_id"]] + 1.0))
        assert math.isclose(r["score"], expect, rel_tol=1e-12)
    # ranking is by the boosted score
    allb = sorted(
        ((base[d] * (1.0 / (0.01 * lens[d] + 1.0)), d) for d in base),
        key=lambda x: (-x[0], x[1]),
    )
    assert [r["doc_id"] for r in got] == [d for _, d in allb[:5]]


def test_boost_additive_bf(idx, fields):
    base = {r["doc_id"]: r["score"] for r in score_or_docs(idx, Q).collect()}
    lens = {r["doc_id"]: r["n_chars"] for r in fields.collect()}
    got = select(
        idx, Q, fields=fields, boost=F.col("n_chars") * 0.001, boost_mode="sum", rows=5
    ).docs.collect()
    for r in got:
        assert math.isclose(
            r["score"], base[r["doc_id"]] + 0.001 * lens[r["doc_id"]],
            rel_tol=1e-12,
        )


def test_boost_keeps_docs_missing_from_fields(idx, fields):
    """ADVICE r3: Solr's boost/bf keeps a matching doc ranked when the
    boost field is missing (the function uses the field default) — the
    boost join must be LEFT with the mode's identity, never inner."""
    base = {r["doc_id"]: r["score"] for r in score_or_docs(idx, Q).collect()}
    some_doc = sorted(base)[0]
    holey = fields.filter(F.col("doc_id") != some_doc)
    got_mul = select(
        idx, Q, fields=holey, boost=recip(F.col("n_chars"), 0.01, 1.0, 1.0),
        rows=len(base),
    ).docs.collect()
    assert some_doc in {r["doc_id"] for r in got_mul}
    mul_scores = {r["doc_id"]: r["score"] for r in got_mul}
    # identity boost 1.0 -> unchanged bm25 score
    assert math.isclose(mul_scores[some_doc], base[some_doc], rel_tol=1e-12)
    got_sum = select(
        idx, Q, fields=holey, boost=F.col("n_chars") * 0.001, boost_mode="sum",
        rows=len(base),
    ).docs.collect()
    sum_scores = {r["doc_id"]: r["score"] for r in got_sum}
    assert math.isclose(sum_scores[some_doc], base[some_doc], rel_tol=1e-12)
    # null boost VALUES (not just missing rows) also fall back to identity
    nully = fields.withColumn(
        "n_chars",
        F.when(F.col("doc_id") == some_doc, F.lit(None)).otherwise(F.col("n_chars")),
    )
    got_null = select(
        idx, Q, fields=nully, boost=recip(F.col("n_chars"), 0.01, 1.0, 1.0),
        rows=len(base),
    ).docs.collect()
    null_scores = {r["doc_id"]: r["score"] for r in got_null}
    assert math.isclose(null_scores[some_doc], base[some_doc], rel_tol=1e-12)


# ---------------------------------------------------------------- rerank

def test_rerank_adjusts_only_top_n(idx):
    base = score_or_docs(idx, Q)
    ranked = sorted(
        ((r["score"], r["doc_id"]) for r in base.collect()),
        key=lambda x: (-x[0], x[1]),
    )
    head = ranked[:5]
    rr = {r["doc_id"]: r["score"] for r in score_or_docs(idx, "word").collect()}
    expect = sorted(
        ((s + 2.0 * rr.get(d, 0.0), d) for s, d in head),
        key=lambda x: (-x[0], x[1]),
    )
    got = select(
        idx, Q, rerank_query="word", rerank_docs=5, rerank_weight=2.0, rows=5
    ).docs.collect()
    assert [r["doc_id"] for r in got] == [d for _, d in expect]
    for r, (s, _) in zip(got, expect):
        assert math.isclose(r["score"], s, rel_tol=1e-12)


def test_rerank_query_matching_nothing_is_identity(idx):
    got = select(idx, Q, rerank_query="zzzunseen", rerank_docs=10, rows=10).docs.collect()
    plain = bm25_topk(idx, Q, k=10).select("doc_id", "score").collect()
    assert [(r["doc_id"], r["score"]) for r in got] == [
        (r["doc_id"], r["score"]) for r in plain
    ]


# ---------------------------------------------------------------- collapse

def test_collapse_keeps_top_per_group(idx, fields):
    got = select(idx, Q, fields=fields, collapse_field="grp", rows=50).docs.collect()
    # one survivor per group value, and it's that group's best
    base = {r["doc_id"]: r["score"] for r in score_or_docs(idx, Q).collect()}
    grp = {r["doc_id"]: r["grp"] for r in fields.collect()}
    best = {}
    for d, s in base.items():
        g = grp[d]
        if g not in best or (s, -d) > (best[g][0], -best[g][1]):
            best[g] = (s, d)
    assert {r["grp"] for r in got} == set(best)
    for r in got:
        assert r["doc_id"] == best[r["grp"]][1]


# ---------------------------------------------------------------- json facet

def test_json_facet_nested_stats(idx, fields):
    r = select(
        idx, Q, fields=fields,
        json_facet=("grp", [("avg_len", lambda c: F.round(F.avg(c("n_chars")), 4))]),
    )
    got = r.facets["json:grp"].collect()
    r.release()
    matched = {r["doc_id"] for r in score_or_docs(idx, Q).collect()}
    rows = [r for r in fields.collect() if r["doc_id"] in matched]
    from collections import defaultdict

    agg = defaultdict(list)
    for r in rows:
        agg[r["grp"]].append(r["n_chars"])
    assert {r["grp"]: r["count"] for r in got} == {
        g: len(v) for g, v in agg.items()
    }
    for r in got:
        assert math.isclose(
            r["avg_len"], round(sum(agg[r["grp"]]) / len(agg[r["grp"]]), 4)
        )
    # Solr default bucket order: count desc
    counts = [r["count"] for r in got]
    assert counts == sorted(counts, reverse=True)


# ---------------------------------------------------------------- elevation

def test_elevation_pins_configured_order(idx):
    base = {r["doc_id"]: r["score"] for r in score_or_docs(idx, Q).collect()}
    ranked = sorted(base.items(), key=lambda x: (-x[1], x[0]))
    organic_ids = [d for d, _ in ranked]
    # elevate: one organic non-head doc + one doc the query doesn't match
    nonmatch = max(base) + 1  # doc ids are dense; this may match nothing
    pick = organic_ids[min(5, len(organic_ids) - 1)]
    got = select(idx, Q, elevate_ids=[pick, nonmatch], rows=8).docs.collect()
    assert [r["doc_id"] for r in got[:2]] == [pick, nonmatch]
    assert got[0]["elevated"] and got[1]["elevated"]
    assert got[0]["score"] == base[pick]
    assert got[1]["score"] == base.get(nonmatch, 0.0)
    tail = [r["doc_id"] for r in got[2:]]
    assert tail == [d for d in organic_ids if d != pick][: len(tail)]
    assert all(not r["elevated"] for r in got[2:])
    # ranks are DENSE across the pinned/organic boundary (select() paging
    # contract): 0,1 pinned then 2,3,... organic with no gap
    assert [r["rank"] for r in got] == list(range(len(got)))


# ---------------------------------------------------------------- term vectors

def test_term_vectors_match_postings(idx):
    from solr_sematic_importer_spark.operators.mlt import term_vectors

    ids = [2, 9]
    got = {
        (r["doc_id"], r["term"]): (r["tf"], r["df"])
        for r in term_vectors(idx, ids).collect()
    }
    want_tf = {
        (r["doc_id"], r["term"]): r["tf"]
        for r in idx.postings_flat.filter(F.col("doc_id").isin(ids)).collect()
    }
    dfs = {
        r["term"]: r["df"]
        for r in idx.term_stats.filter(
            F.col("term").isin([t for _, t in want_tf])
        ).collect()
    }
    assert set(got) == set(want_tf)
    for key, (tf, df) in got.items():
        assert tf == want_tf[key] and df == dfs[key[1]]


# ---------------------------------------------------------------- explain

def test_explain_partials_sum_to_score(idx):
    from solr_sematic_importer_spark.operators.score import explain_topk

    ex = explain_topk(idx, Q, k=5).collect()
    base = {r["doc_id"]: r["score"] for r in score_or_docs(idx, Q).collect()}
    from collections import defaultdict

    sums = defaultdict(float)
    for r in ex:
        sums[r["doc_id"]] += r["partial"]
    assert len(sums) == 5
    for d, s in sums.items():
        assert math.isclose(s, base[d], rel_tol=1e-9)
