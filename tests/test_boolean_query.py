"""Lucene classic query-parser syntax + BooleanQuery execution."""

import pytest
from pyspark.sql import functions as F

from solr_sematic_importer_spark.functions.queryparser import (
    MUST,
    MUST_NOT,
    SHOULD,
    QueryParseError,
    parse_query,
)
from solr_sematic_importer_spark.operators.boolean_query import boolean_query_topk
from solr_sematic_importer_spark.operators.build import build_index
from solr_sematic_importer_spark.operators.phrase import build_positions
from solr_sematic_importer_spark.operators.score import (
    bm25_conjunction_topk,
    bm25_topk,
)

TEXTS = [
    (0, "merge sort beats bubble sort on big workloads"),
    (1, "sort merge join is a classic merge strategy"),
    (2, "merge only here nothing else matters"),
    (3, "sort only here nothing else matters"),
    (4, "window functions rank rows smoothly"),
    (5, "merge sort window all three appear"),
    (6, "bubble things pop without order"),
]


# ---------------------------------------------------------------------------
# parser
# ---------------------------------------------------------------------------


def test_parse_occurs_and_kinds():
    cs = parse_query('+alpha -beta gamma "delta epsilon" zeta* (eta OR theta)')
    assert [(c.occur, c.kind) for c in cs] == [
        (MUST, "term"), (MUST_NOT, "term"), (SHOULD, "term"),
        (SHOULD, "phrase"), (SHOULD, "prefix"), (SHOULD, "group"),
    ]
    assert cs[3].text == "delta epsilon" and cs[4].text == "zeta"
    assert [c.text for c in cs[5].children] == ["eta", "theta"]


def test_parse_and_promotes_both_sides():
    cs = parse_query("alpha AND beta gamma")
    assert [(c.text, c.occur) for c in cs] == [
        ("alpha", MUST), ("beta", MUST), ("gamma", SHOULD)
    ]
    cs2 = parse_query("alpha OR beta")
    assert [(c.text, c.occur) for c in cs2] == [("alpha", SHOULD), ("beta", SHOULD)]
    cs3 = parse_query("NOT alpha beta")
    assert [(c.text, c.occur) for c in cs3] == [("alpha", MUST_NOT), ("beta", SHOULD)]


def test_parse_boost_and_field():
    cs = parse_query("text:alpha^2.5 _text_:beta")
    assert cs[0].text == "alpha" and cs[0].boost == 2.5
    assert cs[1].text == "beta"
    with pytest.raises(QueryParseError, match="not addressable"):
        parse_query("title:alpha")
    with pytest.raises(QueryParseError, match="unbalanced"):
        parse_query("(alpha")
    with pytest.raises(QueryParseError, match="leading wildcard"):
        parse_query("*alpha")


def test_parse_multiterm_and_inword_operators():
    # in-word '-'/'+' are term characters, not operators (ADVICE r2)
    cs = parse_query("wi-fi c++")
    assert [(c.kind, c.occur, c.text) for c in cs] == [
        ("term", SHOULD, "wi-fi"), ("term", SHOULD, "c++")
    ]
    cs = parse_query("-wi-fi +c++")
    assert [(c.occur, c.text) for c in cs] == [
        (MUST_NOT, "wi-fi"), (MUST, "c++")
    ]
    # multiterm variants lowercase (Solr multiterm analysis)
    cs = parse_query('Tele* al*pha te?t merGr~1 fuzz~ "a b"~2')
    assert (cs[0].kind, cs[0].text) == ("prefix", "tele")
    assert (cs[1].kind, cs[1].text) == ("wildcard", "al*pha")
    assert (cs[2].kind, cs[2].text) == ("wildcard", "te?t")
    assert (cs[3].kind, cs[3].text, cs[3].distance) == ("fuzzy", "mergr", 1)
    assert (cs[4].kind, cs[4].text, cs[4].distance) == ("fuzzy", "fuzz", 2)
    assert (cs[5].kind, cs[5].text, cs[5].slop) == ("phrase", "a b", 2)
    with pytest.raises(QueryParseError, match="> 2"):
        parse_query("term~3")


# ---------------------------------------------------------------------------
# execution
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def idx(spark):
    docs = spark.createDataFrame(TEXTS, "doc_id long, text string")
    index = build_index(
        docs, text_col="text", key_cols=(), profile="simple", doc_id_col="doc_id"
    )
    pos = build_positions(docs, profile="simple")
    return index, pos


def _rows(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def test_plain_or_matches_bm25_topk(idx):
    index, _ = idx
    a = _rows(boolean_query_topk(index, "merge sort window", k=10, quantize=False))
    b = _rows(bm25_topk(index, "merge sort window", k=10, quantize=False)
              .select("doc_id", "score"))
    assert [d for d, _ in a] == [d for d, _ in b]
    for (_, sa), (_, sb) in zip(a, b):
        assert sa == pytest.approx(sb, abs=1e-12)


def test_and_matches_conjunction(idx):
    index, _ = idx
    a = _rows(boolean_query_topk(index, "merge AND sort", k=10, quantize=False))
    b = _rows(bm25_conjunction_topk(index, "merge sort", k=10, quantize=False))
    assert [d for d, _ in a] == [d for d, _ in b]
    for (_, sa), (_, sb) in zip(a, b):
        assert sa == pytest.approx(sb, abs=1e-12)


def test_required_plus_optional(idx):
    index, _ = idx
    got = boolean_query_topk(index, "+window merge", k=10, quantize=False).collect()
    ids = [r["doc_id"] for r in got]
    assert set(ids) == {4, 5}      # window required
    assert ids[0] == 5             # 5 also matches the optional "merge"


def test_prohibited(idx):
    index, _ = idx
    ids = [r["doc_id"] for r in
           boolean_query_topk(index, "merge -sort", k=10, quantize=False).collect()]
    assert set(ids) == {2}


def test_pure_negative_top_level(idx):
    index, _ = idx
    for q, want in (
        ("-merge", {3, 4, 6}),
        # a prohibited clause that matches nothing (df=0) excludes nothing:
        # Solr's *:* -x rewrite returns every doc
        ("-zzzznope", {0, 1, 2, 3, 4, 5, 6}),
    ):
        got = boolean_query_topk(index, q, k=10, quantize=False).collect()
        assert {r["doc_id"] for r in got} == want, q
        assert all(r["score"] == 1.0 for r in got)


def test_group_and(idx):
    index, _ = idx
    ids = {r["doc_id"] for r in
           boolean_query_topk(index, "merge AND (window OR bubble)",
                              k=10, quantize=False).collect()}
    assert ids == {0, 5}


def test_phrase_clause_in_boolean(idx):
    index, pos = idx
    ids = [r["doc_id"] for r in
           boolean_query_topk(index, '+"merge sort" window', k=10,
                              positions=pos, quantize=False).collect()]
    assert set(ids) == {0, 5}
    assert ids[0] == 5  # the phrase AND the optional window
    with pytest.raises(ValueError, match="positions"):
        boolean_query_topk(index, '"merge sort"', k=10)


def test_prefix_clause_and_boost(idx):
    index, _ = idx
    got = {r["doc_id"]: r["score"] for r in
           boolean_query_topk(index, "bubb*", k=10, quantize=False).collect()}
    assert set(got) == {0, 6} and all(s == 1.0 for s in got.values())
    # boost scales the term contribution exactly
    plain = {r["doc_id"]: r["score"] for r in
             boolean_query_topk(index, "window", k=10, quantize=False).collect()}
    boosted = {r["doc_id"]: r["score"] for r in
               boolean_query_topk(index, "window^3", k=10, quantize=False).collect()}
    for d in plain:
        assert boosted[d] == pytest.approx(3 * plain[d], rel=1e-12)


def test_term_range_query(idx):
    """[a TO m] constant-score over the term dictionary; exclusive bounds
    with {}; * = open end."""
    index, _ = idx
    cs = parse_query("[bubble TO merge]")
    assert cs[0].kind == "range" and cs[0].lo == "bubble" and cs[0].hi_inc
    # docs containing any term in [only TO sort} — 'only','order','pop',
    # 'rank','rows','smoothly' qualify; 'sort' itself excluded
    got = {r["doc_id"] for r in
           boolean_query_topk(index, "{nothing TO sort}", k=20, quantize=False).collect()}
    want = set()
    for did, text in TEXTS:
        toks = set(text.split())
        if any("nothing" < t < "sort" for t in toks):
            want.add(did)
    assert got == want
    # open-ended range as an OPTIONAL clause beside a required term: both
    # window docs match; doc 5 ranks first (it also matches the range via
    # 'all' <= 'b' and collects its constant 1.0)
    rows = boolean_query_topk(index, "+window [* TO b]", k=20, quantize=False).collect()
    assert {r["doc_id"] for r in rows} == {4, 5}
    assert rows[0]["doc_id"] == 5  # the range's constant 1.0 outweighs dl deltas


def test_parser_fuzz_never_crashes_unexpectedly():
    """Any input either parses or raises QueryParseError — no other
    exception class escapes (a query string is user input)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=300, deadline=None)
    @given(st.text(alphabet='abcxyz ()+-"^*[]{}:AND OR NOT TO 0123456789.', max_size=60))
    def run(q):
        try:
            clauses = parse_query(q)
        except QueryParseError:
            return
        for c in _walk(clauses):
            assert c.occur in (SHOULD, MUST, MUST_NOT)
            assert c.kind in (
                "term", "phrase", "prefix", "wildcard", "fuzzy", "range", "group"
            )
            assert c.boost >= 0  # ^0 is legal (zeroes the contribution)

    def _walk(cs):
        for c in cs:
            yield c
            yield from _walk(c.children)

    run()


def test_fuzzy_execution(idx):
    """'mergr~1' expands to {merge} only in this vocab; the blend then
    equals a single-term BM25 query scaled by the member's edit-distance
    similarity boost 1 - d/min(len) = 1 - 1/5 = 0.8 (Lucene
    FuzzyTermsEnum boost on the blended rewrite)."""
    index, pos = idx
    a = _rows(boolean_query_topk(index, "mergr~1", k=10, positions=pos, quantize=False))
    b = _rows(bm25_topk(index, "merge", k=10, quantize=False).select("doc_id", "score"))
    assert [d for d, _ in a] == [d for d, _ in b]
    for (_, sa), (_, sb) in zip(a, b):
        assert sa == pytest.approx(0.8 * sb, abs=1e-12)


def test_fuzzy_blends_members(idx):
    """'sorr~1' expands to {sort} (and nothing else) -> docs with 'sort';
    'bubbl~2' hits {bubble} docs."""
    index, pos = idx
    rows = boolean_query_topk(index, "bubbl~2", k=10, positions=pos, quantize=False).collect()
    assert {r["doc_id"] for r in rows} == {0, 6}


def test_wildcard_execution(idx):
    index, pos = idx
    # 's?rt' -> 'sort'; constant-score 1.0, docID-asc order
    rows = boolean_query_topk(index, "s?rt", k=10, positions=pos, quantize=False).collect()
    assert {r["doc_id"] for r in rows} == {0, 1, 3, 5}
    assert all(r["score"] == 1.0 for r in rows)
    # 'm*e' -> merge (and nothing else here); 'w*w' -> window
    rows = boolean_query_topk(index, "w?nd*", k=10, positions=pos, quantize=False).collect()
    assert {r["doc_id"] for r in rows} == {4, 5}


def test_sloppy_phrase_execution(idx):
    """doc 1: 'sort merge join is a classic merge strategy' — "sort join"
    is not adjacent (gap 2) so slop 0 misses, slop 1 hits."""
    index, pos = idx
    assert boolean_query_topk(index, '"sort join"', k=10, positions=pos).count() == 0
    rows = boolean_query_topk(index, '"sort join"~1', k=10, positions=pos).collect()
    assert [r["doc_id"] for r in rows] == [1]
    # exact phrase still matches under the sloppy matcher (slop >= 0 superset)
    exact = boolean_query_topk(index, '"merge sort"', k=10, positions=pos, quantize=False)
    sloppy = boolean_query_topk(index, '"merge sort"~2', k=10, positions=pos, quantize=False)
    assert {r["doc_id"] for r in exact.collect()} <= {r["doc_id"] for r in sloppy.collect()}
    # slop must NOT admit reversed order in this implementation (documented)
    assert boolean_query_topk(index, '"join sort"~1', k=10, positions=pos).count() == 0


def test_sloppy_phrase_three_terms(spark):
    docs = spark.createDataFrame(
        [(0, "a b c"), (1, "a x b c"), (2, "a x x b x c"), (3, "c b a")],
        "doc_id long, text string",
    )
    index = build_index(docs, text_col="text", key_cols=(), profile="simple",
                        doc_id_col="doc_id")
    pos = build_positions(docs, profile="simple")
    got = lambda q: {r["doc_id"] for r in
                     boolean_query_topk(index, q, k=10, positions=pos).collect()}
    assert got('"a b c"') == {0}
    assert got('"a b c"~1') == {0, 1}     # one inserted token
    assert got('"a b c"~2') == {0, 1}     # doc 2 needs c by +4, c is at +5
    assert got('"a b c"~3') == {0, 1, 2}  # b at +3 <= 1+3, c at +5 <= 2+3
    index.release()


def test_unmatchable_must_empty(idx):
    index, _ = idx
    assert boolean_query_topk(index, "+zzzmissing merge", k=10).count() == 0
    assert boolean_query_topk(index, "zzzmissing", k=10).count() == 0


# ---------------------------------------------------------------------------
# analyzed-empty clauses vs df=0 clauses (round-5 review)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def idx_en(spark):
    docs = spark.createDataFrame(TEXTS, "doc_id long, text string")
    return build_index(
        docs, text_col="text", key_cols=(), profile="text_en", doc_id_col="doc_id"
    )


def test_stopword_must_clause_is_dropped(idx_en):
    """Lucene's classic parser DROPS a clause that analyzes to nothing
    (a lone stopword under text_en) — "merge AND the" degrades to
    "merge", it does not empty the result set."""
    want = _rows(boolean_query_topk(idx_en, "merge", k=10, quantize=False))
    assert want
    got = _rows(boolean_query_topk(idx_en, "merge AND the", k=10, quantize=False))
    assert got == want
    # a group that analyzes away entirely drops the same way
    got2 = _rows(boolean_query_topk(idx_en, "merge AND (the of)", k=10,
                                    quantize=False))
    assert got2 == want
    # a phrase that analyzes away drops too (no positions table needed)
    got3 = _rows(boolean_query_topk(idx_en, 'merge AND "the of"', k=10,
                                    quantize=False))
    assert got3 == want
    # the whole query analyzing away matches nothing
    assert boolean_query_topk(idx_en, "the of", k=10).count() == 0


def test_unmatched_positive_blocks_pure_negative_rewrite(idx):
    """A positive clause that tokenizes but matches nothing (df=0) keeps
    BooleanQuery semantics: zero results — NOT the pure-negative rewrite
    dumping the corpus minus the exclusions."""
    index, _ = idx
    assert boolean_query_topk(index, "zzzmissing -merge", k=100).count() == 0


def test_effective_pure_negative_after_stopword_drop(idx_en):
    """Once every positive clause is dropped at analysis, what remains
    IS a top-level pure-negative query and the Solr rewrite applies."""
    got = {r["doc_id"]
           for r in boolean_query_topk(idx_en, "the -merge", k=100).collect()}
    merge_docs = {0, 1, 2, 5}
    assert got == set(range(len(TEXTS))) - merge_docs


def test_and_promotes_left_despite_explicit_right(idx):
    """Lucene parses 'a AND NOT b' as +a -b: an explicit +/-/NOT on the
    right clause must not cancel AND's promotion of its LEFT neighbor
    (round-5 review, execution-verified divergence)."""
    cs = parse_query("a AND NOT b OR c")
    assert [(c.text, c.occur) for c in cs] == [
        ("a", MUST), ("b", MUST_NOT), ("c", SHOULD)
    ]
    cs2 = parse_query("x AND +y")
    assert [(c.occur) for c in cs2] == [MUST, MUST]
    # execution: 'merge AND NOT sort' == '+merge -sort'
    index, _ = idx
    a = _rows(boolean_query_topk(index, "merge AND NOT sort", k=10, quantize=False))
    b = _rows(boolean_query_topk(index, "+merge -sort", k=10, quantize=False))
    assert a == b and a  # docs 2 matches (merge without sort)
