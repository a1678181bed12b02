"""Multi-field index + qf-weighted / fielded queries (the reference's
multi-field chunk schema, default-chunk-config.zip -> managed-schema.xml:
449-463, and MS MARCO (title, body) docs, MsMarcoDownloader.java:50-90).

Lucene semantics pinned here: per-field statistics (docCount_f counts docs
with >=1 term IN the field; idf_f from the field's own df/docCount),
weighted-sum vs DisMax(tie) combines, per-field TermQuery for ``field:term``
with MUST/MUST_NOT joins, and constant-score multiterm rewrites on the
field's term dictionary."""

import math

import pytest
from pyspark.sql import functions as F

from solr_sematic_importer_spark.functions.queryparser import (
    MUST, MUST_NOT, SHOULD, QueryParseError, parse_query,
)
from solr_sematic_importer_spark.operators.multifield import (
    bm25_multifield_topk,
    build_multifield_index,
    fielded_query_topk,
)

ROWS = [
    (0, "spark shuffle guide", "a long body about spark partitions and shuffles in spark"),
    (1, "cooking pasta", "spark appears once here among cooking words and olive oil"),
    (2, "spark spark spark draft", ""),          # empty body
    (3, "empty body doc", "totally unrelated content about gardening and soil"),
]


@pytest.fixture(scope="module")
def mf(spark):
    df = spark.createDataFrame(ROWS, "doc_id long, title string, body string")
    return build_multifield_index(
        df, fields=("title", "body"), profile="simple", doc_id_col="doc_id"
    )


def _ids(rows):
    return [r["doc_id"] for r in rows]


# ---------------------------------------------------------------- stats


def test_per_field_doc_count_excludes_empty_fields(mf):
    # doc 2 has an empty body: body's docCount must be 3, title's 4
    assert mf.fields["title"].n_docs == 4
    assert mf.fields["body"].n_docs == 3
    assert mf.n_docs == 4


def test_per_field_df_and_postings_key(mf):
    rows = {
        (f, r["term"]): r["df"]
        for f, fi in mf.fields.items()
        for r in fi.term_stats.filter(F.col("term") == "spark").collect()
    }
    assert rows[("title", "spark")] == 2   # docs 0, 2
    assert rows[("body", "spark")] == 2    # docs 0, 1


def test_sum_score_matches_hand_bm25(mf):
    # single term, qf weights: score = sum_f boost_f * idf_f * sat_f
    got = {
        r["doc_id"]: r["score"]
        for r in bm25_multifield_topk(
            mf, "spark", {"title": 3.0, "body": 1.0}, k=4, quantize=False
        ).collect()
    }

    def idf(df_, n):
        return math.log(1 + (n - df_ + 0.5) / (df_ + 0.5))

    def sat(tf, dl, avgdl):
        return tf / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))

    t_avg = mf.fields["title"].avgdl
    b_avg = mf.fields["body"].avgdl
    # doc 0: title tf=1 dl=3; body tf=2 dl=10
    want0 = 3.0 * idf(2, 4) * sat(1, 3, t_avg) + 1.0 * idf(2, 3) * sat(2, 10, b_avg)
    assert got[0] == pytest.approx(want0, rel=1e-12)
    # doc 2: title only, tf=3 dl=4
    want2 = 3.0 * idf(2, 4) * sat(3, 4, t_avg)
    assert got[2] == pytest.approx(want2, rel=1e-12)


def test_stopword_only_field_left_out_of_field_stats(spark):
    """A title that analyzes to nothing under text_en (stopwords only) is
    not in the title's docCount or avgdl, and the doc's body still
    scores."""
    rows = [
        (0, "spark shuffle", "spark partitions"),
        (1, "the of and", "spark streaming windows"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, title string, body string")
    mfe = build_multifield_index(
        df, fields=("title", "body"), profile="text_en", doc_id_col="doc_id"
    )
    try:
        title, body = mfe.fields["title"], mfe.fields["body"]
        assert (title.n_docs, title.sum_dl) == (1, 2)
        assert title.avgdl == 2.0
        assert (body.n_docs, body.sum_dl) == (2, 5)
        assert mfe.n_docs == 2
        got = {
            r["doc_id"]: r["score"]
            for r in bm25_multifield_topk(
                mfe, "streaming", {"title": 3.0, "body": 1.0}, k=4, quantize=False
            ).collect()
        }
        assert set(got) == {1} and got[1] > 0
    finally:
        mfe.release()


def test_release_unpersists_every_table(spark):
    """release() gives back everything the build pinned: the shared
    analyze output and each field's doc_stats, blocks and term_stats."""
    jsc = spark.sparkContext._jsc

    def pinned():
        return jsc.getPersistentRDDs().size()

    before = pinned()
    df = spark.createDataFrame(ROWS, "doc_id long, title string, body string")
    mfr = build_multifield_index(
        df, fields=("title", "body"), profile="simple", doc_id_col="doc_id"
    )
    # materialize every per-field table
    assert bm25_multifield_topk(mfr, "spark", {"title": 1.0, "body": 1.0}, k=4).count()
    for fi in mfr.fields.values():
        fi.term_stats.count()
    assert pinned() > before
    mfr.release()
    assert pinned() == before


# ---------------------------------------------------------------- combine


def test_dismax_tie_identities(mf):
    q, qf = "spark shuffle", {"title": 3.0, "body": 1.0}
    tie1 = bm25_multifield_topk(mf, q, qf, k=4, combine="dismax", tie=1.0, quantize=False).collect()
    s = bm25_multifield_topk(mf, q, qf, k=4, combine="sum", quantize=False).collect()
    assert [(r["doc_id"], pytest.approx(r["score"])) for r in tie1] == [
        (r["doc_id"], r["score"]) for r in s
    ]
    tie0 = {
        r["doc_id"]: r["score"]
        for r in bm25_multifield_topk(
            mf, q, qf, k=4, combine="dismax", tie=0.0, quantize=False
        ).collect()
    }
    summed = {r["doc_id"]: r["score"] for r in s}
    # pure max is <= the sum everywhere, strictly less where both fields hit
    assert all(tie0[d] <= summed[d] + 1e-12 for d in tie0)
    assert tie0[0] < summed[0]  # doc 0 matches spark in BOTH fields


def test_combine_validation(mf):
    with pytest.raises(ValueError, match="combine"):
        bm25_multifield_topk(mf, "spark", {"title": 1.0}, combine="nope")


def test_unknown_field_boosts_ignored_empty_when_none_apply(mf):
    out = bm25_multifield_topk(mf, "spark", {"nosuch": 2.0}, k=4)
    assert out.count() == 0


# ---------------------------------------------------------------- parser


def test_parser_fielded_clauses():
    cs = parse_query("title:merge body:sort window -title:draft",
                     fields=("title", "body"))
    assert [(c.field, c.text, c.occur) for c in cs] == [
        ("title", "merge", SHOULD),
        ("body", "sort", SHOULD),
        (None, "window", SHOULD),
        ("title", "draft", MUST_NOT),
    ]


def test_parser_unknown_field_still_raises():
    with pytest.raises(QueryParseError, match="not addressable"):
        parse_query("author:smith", fields=("title", "body"))
    with pytest.raises(QueryParseError, match="not addressable"):
        parse_query("author:smith")  # no fields opt-in: same as before


def test_parser_default_field_alias_unchanged():
    (c,) = parse_query("text:merge", fields=("title", "body"))
    assert c.field is None and c.text == "merge"


def test_parser_dangling_field_qualifier():
    with pytest.raises(QueryParseError, match="dangling field"):
        parse_query('title:"a b"', fields=("title",))


def test_parser_fielded_multiterm_kinds():
    cs = parse_query("title:tele* body:te?t title:merge~1", fields=("title", "body"))
    assert [(c.field, c.kind) for c in cs] == [
        ("title", "prefix"), ("body", "wildcard"), ("title", "fuzzy"),
    ]


# ---------------------------------------------------------------- executor


def test_fielded_term_scores_one_field_only(mf):
    got = fielded_query_topk(mf, "title:spark", k=4, quantize=False).collect()
    assert _ids(got) == [2, 0]  # doc 1 has spark only in body -> absent


def test_fielded_must_not(mf):
    got = fielded_query_topk(mf, "title:spark -title:draft", k=4, quantize=False)
    assert _ids(got.collect()) == [0]


def test_fielded_must_semijoin(mf):
    got = fielded_query_topk(mf, "+body:spark title:cooking", k=4, quantize=False)
    ids = _ids(got.collect())
    assert set(ids) == {0, 1} and ids[0] == 1  # title:cooking boosts doc 1 on top


def test_fielded_unmatched_must_returns_empty(mf):
    assert fielded_query_topk(mf, "+title:zzzznope spark", k=4).count() == 0


def test_fielded_prefix_constant_score(mf):
    got = fielded_query_topk(mf, "title:cook*", k=4).collect()
    assert _ids(got) == [1] and got[0]["score"] == 1.0


def test_fielded_wildcard_constant_score(mf):
    got = fielded_query_topk(mf, "body:gard?ning", k=4).collect()
    assert _ids(got) == [3] and got[0]["score"] == 1.0


def test_fielded_unqualified_matches_qf_sum(mf):
    qf = {"title": 3.0, "body": 1.0}
    a = fielded_query_topk(mf, "spark", qf, k=4, quantize=False).collect()
    b = bm25_multifield_topk(mf, "spark", qf, k=4, quantize=False).collect()
    assert [(r["doc_id"], r["score"]) for r in a] == [
        (r["doc_id"], r["score"]) for r in b
    ]


def test_fielded_unsupported_kind_raises(mf):
    with pytest.raises(QueryParseError, match="not supported"):
        fielded_query_topk(mf, "title:[alpha TO beta]", k=4).collect()


def test_fielded_stopword_must_dropped(spark):
    """A fielded MUST clause that analyzes to nothing (stopword under
    text_en) is DROPPED like Lucene's parser does — it must not empty
    the whole query (round-5 review)."""
    df = spark.createDataFrame(ROWS, "doc_id long, title string, body string")
    mfe = build_multifield_index(
        df, fields=("title", "body"), profile="text_en", doc_id_col="doc_id"
    )
    want = [(r["doc_id"], round(r["score"], 9))
            for r in fielded_query_topk(mfe, "title:spark", k=4,
                                        quantize=False).collect()]
    assert want
    got = [(r["doc_id"], round(r["score"], 9))
           for r in fielded_query_topk(mfe, "+title:spark +title:the", k=4,
                                       quantize=False).collect()]
    assert got == want
    mfe.release()


def test_fielded_pure_negative_rewrite(mf):
    """A top-level pure-negative fielded query applies Solr's rewrite
    (*:* minus exclusions at 1.0), matching the single-field engine —
    previously it silently returned 0 results."""
    for q, want in (
        ("-title:draft", {0, 1, 3}),
        ("-title:zzzznope", {0, 1, 2, 3}),  # excludes nothing: every doc
    ):
        rows = fielded_query_topk(mf, q, k=10).collect()
        assert {r["doc_id"] for r in rows} == want, q
        assert all(r["score"] == 1.0 for r in rows)
    # but a df=0 positive clause still blocks the rewrite
    assert fielded_query_topk(mf, "title:zzzznope -title:draft", k=10).count() == 0


def test_fielded_nested_group(mf):
    """A parenthesized group runs through the shared BooleanQuery combine
    (it used to be rejected): the group's clauses add up inside it, its
    boost multiplies its score, and a MUST group filters like any MUST
    clause."""
    def scores(q):
        return {
            r["doc_id"]: r["score"]
            for r in fielded_query_topk(mf, q, k=4, quantize=False).collect()
        }

    flat = scores("title:spark body:spark body:cooking")
    nested = scores("title:spark (body:spark body:cooking)")
    assert set(nested) == set(flat) == {0, 1, 2}
    for d, s in nested.items():
        assert s == pytest.approx(flat[d], rel=1e-12)
    boosted = scores("title:spark (body:spark body:cooking)^2")
    flat_boosted = scores("title:spark body:spark^2 body:cooking^2")
    for d, s in boosted.items():
        assert s == pytest.approx(flat_boosted[d], rel=1e-12)
    assert set(scores("+body:spark +(title:cooking title:pasta)")) == {1}
