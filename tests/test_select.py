"""One-call /select front door: combined requests must equal the
hand-composed stages (solrconfig.xml:650-680 — the delegated handler's
parameter surface as one executor)."""

import math

import pytest
from pyspark.sql import functions as F

from solr_sematic_importer_spark.operators.build import build_index
from solr_sematic_importer_spark.operators.function_query import recip
from solr_sematic_importer_spark.operators.score import bm25_topk, score_or_docs
from solr_sematic_importer_spark.operators.select import select
from solr_sematic_importer_spark.sources.transcripts import synthetic_transcripts

Q = "you one word"


@pytest.fixture(scope="module")
def tdf(spark):
    df = synthetic_transcripts(spark, 60).withColumn("n_chars", F.length("text"))
    df.persist().count()
    return df


@pytest.fixture(scope="module")
def idx(tdf):
    return build_index(tdf, profile="text_en")


@pytest.fixture(scope="module")
def fields(idx, tdf):
    f = idx.doc_stats.select("doc_id", "conv_id", "turn_idx").join(
        tdf, ["conv_id", "turn_idx"]
    ).select("doc_id", F.col("role").alias("grp"), "n_chars")
    f.persist().count()
    return f


def _rows(df):
    return [(r["doc_id"], r["score"]) for r in df.select("doc_id", "score").collect()]


def test_select_plain_equals_bm25_topk(idx):
    got = _rows(select(idx, Q, rows=10).docs)
    want = _rows(bm25_topk(idx, Q, k=10).select("doc_id", "score"))
    assert got == want


def test_select_combined_request(idx, fields):
    """q + fq + mm + boost + collapse + facet in ONE call: the page is
    the hand-composed pipeline's, and facets count the post-collapse set."""
    fqp = F.col("doc_id") % 2 == 0
    r = select(
        idx, Q, fq=fqp, mm=2, fields=fields,
        boost=recip(F.col("n_chars"), 0.01, 1.0, 1.0),
        collapse_field="grp", facet_fields=("grp",), rows=10,
        with_num_found=True,
    )
    # hand-compose: scores -> fq+mm -> boost -> collapse window
    base = {
        x["doc_id"]: x["score"]
        for x in score_or_docs(idx, Q, extra_filter=fqp, min_match=2).collect()
    }
    lens = {x["doc_id"]: x["n_chars"] for x in fields.collect()}
    grp = {x["doc_id"]: x["grp"] for x in fields.collect()}
    boosted = {
        d: s * (1.0 / (0.01 * lens[d] + 1.0)) for d, s in base.items()
    }
    heads = {}
    for d, s in boosted.items():
        g = grp[d]
        if g not in heads or (s, -d) > (heads[g][1], -heads[g][0]):
            heads[g] = (d, s)
    want = sorted(heads.values(), key=lambda x: (-x[1], x[0]))[:10]
    got = [(x["doc_id"], x["score"]) for x in r.docs.select("doc_id", "score").collect()]
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, sa), (_, sb) in zip(got, want):
        assert sa == pytest.approx(sb, rel=1e-12)
    # facets: counts over the post-collapse match set == number of groups
    fc = {x["grp"]: x["cnt"] for x in r.facets["grp"].collect()}
    assert fc == {g: 1 for g in heads}
    assert r.num_found == len(heads)
    r.release()


def test_select_elevation_composes_with_rerank(idx):
    """Elevation pins its head AFTER reranking adjusted the organic
    scores: the pinned docs come first in configured order with their
    REranked scores, the organic tail is the rerank ranking minus them."""
    rr = select(idx, Q, rerank_query="word", rerank_docs=15,
                rerank_weight=2.0, rows=30)
    organic = [(x["doc_id"], x["score"]) for x in rr.docs.collect()]
    pin = [organic[3][0], organic[1][0]]  # pin two mid-rank docs, swapped
    r = select(idx, Q, rerank_query="word", rerank_docs=15,
               rerank_weight=2.0, elevate_ids=pin, rows=10)
    rows = r.docs.collect()
    assert [x["doc_id"] for x in rows[:2]] == pin
    assert all(x["elevated"] for x in rows[:2])
    # pinned docs carry their reranked organic scores
    by_id = dict(organic)
    for x in rows[:2]:
        assert math.isclose(x["score"], by_id[x["doc_id"]], rel_tol=1e-12)
    # organic tail: rerank ranking minus the pinned docs, order preserved
    want_tail = [d for d, _ in organic if d not in set(pin)][:8]
    assert [x["doc_id"] for x in rows[2:]] == want_tail
    assert not any(x["elevated"] for x in rows[2:])


def test_select_cursor_paging(idx):
    p1 = select(idx, Q, rows=5).docs.collect()
    cur = (p1[-1]["score"], p1[-1]["doc_id"])
    p2 = select(idx, Q, rows=5, cursor_mark=cur).docs.collect()
    full = select(idx, Q, rows=10).docs.collect()
    assert [x["doc_id"] for x in p1 + p2] == [x["doc_id"] for x in full]
    with pytest.raises(ValueError, match="cursorMark"):
        select(idx, Q, rows=5, cursor_mark=cur, start=5)


def test_select_offset_paging(idx):
    full = select(idx, Q, rows=20).docs.collect()
    page = select(idx, Q, start=10, rows=5).docs.collect()
    assert [x["doc_id"] for x in page] == [x["doc_id"] for x in full[10:15]]


def test_select_sort_by_field(idx, fields):
    r = select(idx, Q, fields=fields, sort_field="n_chars",
               sort_ascending=True, rows=10)
    rows = r.docs.collect()
    lens = [x["n_chars"] for x in rows]
    assert lens == sorted(lens)
    assert set(r.docs.columns) == {"doc_id", "n_chars", "score"}


@pytest.fixture(scope="module")
def hl_source(idx, tdf):
    src = idx.doc_stats.select("doc_id", "conv_id", "turn_idx").join(
        tdf, ["conv_id", "turn_idx"]
    ).select("doc_id", "text")
    src.persist().count()
    return src


def test_select_hl_equals_standalone_highlight(idx, hl_source):
    """hl=true: the highlighting section is the standalone highlight()
    over exactly the page's docs — page-sized, keyed by doc_id."""
    from solr_sematic_importer_spark.operators.highlight import highlight

    r = select(idx, Q, rows=7, hl_source=hl_source)
    page_ids = [x["doc_id"] for x in r.docs.collect()]
    got = {x["doc_id"]: x["snippet"] for x in r.highlighting.collect()}
    want_df = highlight(
        hl_source.filter(F.col("doc_id").isin(page_ids)), Q, profile=idx.profile
    )
    want = {x["doc_id"]: x["snippet"] for x in want_df.collect()}
    assert got == want
    assert set(got) <= set(page_ids)
    assert got  # the page's docs match the query, so snippets exist
    assert all("<em>" in s for s in got.values())


def test_select_debug_explains_the_page(idx, fields):
    """debugQuery: explain rows cover exactly the PAGE docs (here the
    post-boost page, not the plain-q top-k), and for each doc
    sum(partial) equals the doc's PLAIN BM25 score."""
    r = select(idx, Q, fields=fields,
               boost=recip(F.col("n_chars"), 0.01, 1.0, 1.0),
               rows=6, debug=True)
    page_ids = {x["doc_id"] for x in r.docs.collect()}
    ex = r.explain.collect()
    assert {x["doc_id"] for x in ex} == page_ids
    sums = {}
    for x in ex:
        sums[x["doc_id"]] = sums.get(x["doc_id"], 0.0) + x["partial"]
    plain = {
        x["doc_id"]: x["score"]
        for x in score_or_docs(idx, Q).collect()
    }
    for d, s in sums.items():
        assert s == pytest.approx(plain[d], rel=1e-12)


def test_select_hl_debug_on_no_match(idx, hl_source):
    r = select(idx, "zzznosuchterm", hl_source=hl_source, debug=True)
    assert r.highlighting.count() == 0
    assert r.explain.count() == 0


def test_select_no_match_is_empty_but_shaped(idx, fields):
    r = select(idx, "zzznosuchterm", fields=fields,
               facet_fields=("grp",), with_num_found=True)
    assert r.docs.count() == 0 and r.num_found == 0
    assert r.facets["grp"].count() == 0
    r.release()


def test_select_elevation_with_start_is_exact_offset(idx):
    """ADVICE r4 (medium): ranks must be DENSE across the pinned/organic
    boundary so elevation + start slices exactly — page [start:start+rows]
    of the full elevated ranking, no skipped or duplicated doc."""
    full = select(idx, Q, rows=25).docs.collect()
    pin = [full[2]["doc_id"], full[0]["doc_id"]]
    whole = select(idx, Q, elevate_ids=pin, rows=25).docs.collect()
    # the full elevated ranking itself is dense from 0
    assert [x["rank"] for x in whole] == list(range(len(whole)))
    for start in (1, len(pin), len(pin) + 1, 7):
        page = select(idx, Q, elevate_ids=pin, start=start, rows=5).docs.collect()
        assert [x["doc_id"] for x in page] == [
            x["doc_id"] for x in whole[start : start + 5]
        ]


def test_select_elevation_respects_fq_and_exclude(idx):
    """ADVICE r4: elevation never resurrects a doc removed by fq or a
    prohibited term (Solr QueryElevationComponent still applies filter
    queries to elevated docs); organic ranks stay dense after the pinned
    survivor block."""
    full = select(idx, Q, rows=10).docs.collect()
    even = next(x["doc_id"] for x in full if x["doc_id"] % 2 == 0)
    odd = next(x["doc_id"] for x in full if x["doc_id"] % 2 == 1)
    fqp = F.col("doc_id") % 2 == 0
    r = select(idx, Q, fq=fqp, elevate_ids=[odd, even], rows=10)
    rows = r.docs.collect()
    ids = [x["doc_id"] for x in rows]
    assert odd not in ids                      # fq filtered the pinned doc
    assert ids[0] == even and rows[0]["elevated"]
    assert [x["rank"] for x in rows] == list(range(len(rows)))  # dense
    assert all(d % 2 == 0 for d in ids)


def test_select_cursor_follows_field_sort(idx, fields):
    """ADVICE r4: cursorMark is a keyset over the ACTIVE sort — paging
    under sort_field must walk the field order without overlap/gaps."""
    full = select(idx, Q, fields=fields, sort_field="n_chars", rows=10).docs.collect()
    p1 = select(idx, Q, fields=fields, sort_field="n_chars", rows=5).docs.collect()
    cur = (p1[-1]["n_chars"], p1[-1]["doc_id"])
    p2 = select(idx, Q, fields=fields, sort_field="n_chars", rows=5,
                cursor_mark=cur).docs.collect()
    assert [x["doc_id"] for x in p1 + p2] == [x["doc_id"] for x in full]
    # descending too
    fulld = select(idx, Q, fields=fields, sort_field="n_chars",
                   sort_ascending=False, rows=10).docs.collect()
    p1d = select(idx, Q, fields=fields, sort_field="n_chars",
                 sort_ascending=False, rows=5).docs.collect()
    curd = (p1d[-1]["n_chars"], p1d[-1]["doc_id"])
    p2d = select(idx, Q, fields=fields, sort_field="n_chars",
                 sort_ascending=False, rows=5, cursor_mark=curd).docs.collect()
    assert [x["doc_id"] for x in p1d + p2d] == [x["doc_id"] for x in fulld]


def test_select_rerank_sees_post_collapse_survivors(idx, fields):
    """ADVICE r4: {!collapse} is an fq PostFilter, so rq reranks the
    collapsed ranking — hand-compose collapse -> rerank and compare."""
    r = select(idx, Q, fields=fields, collapse_field="grp",
               rerank_query="word", rerank_docs=2, rerank_weight=3.0, rows=10)
    # hand-compose: collapse survivors, then rerank the top-2 of THEM
    base = {x["doc_id"]: x["score"] for x in score_or_docs(idx, Q).collect()}
    grp = {x["doc_id"]: x["grp"] for x in fields.collect()}
    best = {}
    for d, s in base.items():
        g = grp[d]
        if g not in best or (s, -d) > (best[g][2], -best[g][0]):
            best[g] = (d, g, s)
    survivors = sorted(best.values(), key=lambda x: (-x[2], x[0]))
    rr = {x["doc_id"]: x["score"] for x in score_or_docs(idx, "word").collect()}
    head = survivors[:2]
    adjusted = [
        (d, g, s + 3.0 * rr.get(d, 0.0)) for d, g, s in head
    ] + list(survivors[2:])
    want = sorted(adjusted, key=lambda x: (-x[2], x[0]))[:10]
    got = [(x["doc_id"], x["grp"], x["score"]) for x in r.docs.collect()]
    assert [(d, g) for d, g, _ in got] == [(d, g) for d, g, _ in want]
    for (_, _, sa), (_, _, sb) in zip(got, want):
        assert sa == pytest.approx(sb, rel=1e-12)


def test_select_range_pivot_json_facets(idx, fields):
    """facet.range + facet.pivot + json.facet compose into ONE /select
    and all count the same final match set as facet.field does."""
    flds = fields.withColumn(
        "len_bucket", (F.floor(F.col("n_chars") / 50) * 50).cast("long")
    )
    r = select(
        idx, Q, fields=flds,
        facet_fields=("grp",),
        facet_ranges={"len_bucket": (F.floor(F.col("n_chars") / 50) * 50).cast("long")},
        facet_pivots=(("grp", "len_bucket"),),
        json_facet=("grp", [("avg_len", lambda c: F.avg(c("n_chars")))]),
        rows=5,
    )
    matched = {x["doc_id"] for x in score_or_docs(idx, Q).collect()}
    rows = [x for x in flds.collect() if x["doc_id"] in matched]
    # range buckets
    want_rng = {}
    for x in rows:
        want_rng[x["len_bucket"]] = want_rng.get(x["len_bucket"], 0) + 1
    got_rng = {x["len_bucket"]: x["cnt"] for x in r.facets["len_bucket"].collect()}
    assert got_rng == want_rng
    # pivot (grp, len_bucket)
    want_piv = {}
    for x in rows:
        k = (x["grp"], x["len_bucket"])
        want_piv[k] = want_piv.get(k, 0) + 1
    got_piv = {
        (x["grp"], x["len_bucket"]): x["cnt"]
        for x in r.facets["grp,len_bucket"].collect()
    }
    assert got_piv == want_piv
    # json.facet terms + nested avg, buckets ordered by count desc
    per_grp = {}
    for x in rows:
        per_grp.setdefault(x["grp"], []).append(x["n_chars"])
    jf = r.facets["json:grp"].collect()
    assert [x["grp"] for x in jf] == sorted(
        per_grp, key=lambda g: (-len(per_grp[g]), g)
    )
    for x in jf:
        assert x["count"] == len(per_grp[x["grp"]])
        assert x["avg_len"] == pytest.approx(
            sum(per_grp[x["grp"]]) / len(per_grp[x["grp"]]), rel=1e-12
        )
    # facet.field still agrees with the same match set
    got_f = {x["grp"]: x["cnt"] for x in r.facets["grp"].collect()}
    assert got_f == {g: len(v) for g, v in per_grp.items()}
    r.release()


def test_select_multi_section_batches_scoring_and_releases(idx, fields):
    """Section batching (VERDICT r4 #6): a request with page + facets +
    num_found persists the scored match set ONCE so each section reuses
    it; release() returns storage to baseline. Single-section requests
    never persist."""
    def n_persistent(sp):
        return sp.sparkContext._jsc.getPersistentRDDs().size()

    spark = fields.sparkSession
    # the in-memory index materializes its own cached tables on its first
    # query; a single-section warm-up keeps them out of the count
    warm = select(idx, Q, rows=5)
    warm.docs.collect()
    warm.release()
    before = n_persistent(spark)
    r = select(idx, Q, fields=fields, facet_fields=("grp",),
               with_num_found=True, rows=5)
    page = [(x["doc_id"], x["score"]) for x in r.docs.collect()]
    fc = {x["grp"]: x["cnt"] for x in r.facets["grp"].collect()}
    assert page and fc and r.num_found
    assert n_persistent(spark) == before + 1
    r.release()
    assert n_persistent(spark) == before
    r.release()  # idempotent
    # values identical to a single-section (non-cached) request
    r2 = select(idx, Q, rows=5)
    assert page == [(x["doc_id"], x["score"]) for x in r2.docs.collect()]
    assert n_persistent(spark) == before  # single-section never persisted


def test_select_release_keeps_other_live_response_cached(idx, fields):
    """Two identical multi-section requests plan alike; releasing one
    must not drop the match set the other still serves its sections
    from."""
    from pyspark import StorageLevel

    r1, r2 = (
        select(idx, Q, fields=fields, facet_fields=("grp",), with_num_found=True, rows=5)
        for _ in range(2)
    )
    page = r2.docs.collect()
    r1.release()
    assert r2._cached.storageLevel != StorageLevel.NONE
    assert r2.docs.collect() == page
    r2.release()
    assert r2.docs.storageLevel == StorageLevel.NONE


def test_select_boost_collapse_shared_join_edges(idx, fields):
    """The shared stored-field join must preserve the sequential
    semantics at its edges: a doc ABSENT from fields is kept (identity
    boost) under boost-only, dropped under collapse; a doc present with
    a NULL boost value coalesces to the identity either way."""
    page = select(idx, Q, rows=10).docs.collect()
    assert page
    present, absent = page[0]["doc_id"], page[-1]["doc_id"]
    assert present != absent
    # fields missing `absent`; `present` carries a NULL boost input
    f2 = (
        fields.filter(F.col("doc_id") != absent)
        .withColumn(
            "n_chars",
            F.when(F.col("doc_id") == present, F.lit(None)).otherwise(
                F.col("n_chars")
            ),
        )
    )
    boost = (1.0 / (F.lit(0.01) * F.col("n_chars") + 1.0)).cast("double")

    # boost-only: LEFT semantics — absent doc kept at identity (x1.0),
    # present-with-NULL kept at identity too
    r = select(idx, Q, fields=f2, boost=boost, rows=len(page)).docs
    got = {x["doc_id"]: x["score"] for x in r.collect()}
    base = {x["doc_id"]: x["score"] for x in page}
    assert got[absent] == pytest.approx(base[absent], rel=1e-12)
    assert got[present] == pytest.approx(base[present], rel=1e-12)

    # boost + collapse: INNER semantics — absent doc dropped, NULL-boost
    # doc still present at its identity-boosted score
    rc = select(idx, Q, fields=f2, boost=boost, collapse_field="grp",
                rows=1000).docs
    gotc = {x["doc_id"]: x["score"] for x in rc.collect()}
    assert absent not in gotc
    if present in gotc:  # it may lose its group's collapse to a peer
        assert gotc[present] == pytest.approx(base[present], rel=1e-12)


@pytest.fixture(scope="module")
def fields_nullable(fields):
    """Stored fields where every third doc has a NULL sort key — NULLs
    participate in field sorts (Spark: asc=NULLS FIRST, desc=NULLS LAST)
    and the cursor keyset must walk through the NULL region."""
    f = fields.withColumn(
        "n_chars",
        F.when(F.col("doc_id") % 3 == 0, F.lit(None)).otherwise(
            F.col("n_chars")
        ),
    )
    f.persist().count()
    return f


def test_select_cursor_field_sort_null_keys(idx, fields_nullable):
    """A cursor that lands on a NULL-keyed row must not truncate
    pagination: sk > NULL / sk == NULL are NULL under SQL semantics, so
    the keyset spells out the null region explicitly per direction."""
    for asc in (True, False):
        full = select(idx, Q, fields=fields_nullable, sort_field="n_chars",
                      sort_ascending=asc, rows=100000).docs.collect()
        assert any(x["n_chars"] is None for x in full)
        assert any(x["n_chars"] is not None for x in full)
        # page size chosen so the walk crosses the NULL/non-NULL border
        # mid-page AND lands a cursor inside the NULL region
        page_rows = max(2, len(full) // 7)
        pages, cur = [], None
        for _ in range(12):
            kw = {"cursor_mark": cur} if cur is not None else {}
            p = select(idx, Q, fields=fields_nullable, sort_field="n_chars",
                       sort_ascending=asc, rows=page_rows, **kw).docs.collect()
            if not p:
                break
            pages += p
            cur = (p[-1]["n_chars"], p[-1]["doc_id"])
        assert [x["doc_id"] for x in pages] == [x["doc_id"] for x in full]


def test_select_sort_field_same_as_collapse(idx, fields):
    """sort on the collapse field rides the one shared stored-field join
    instead of joining it twice (which raised AMBIGUOUS_REFERENCE)."""
    r = select(idx, Q, fields=fields, collapse_field="grp",
               sort_field="grp", sort_ascending=True, rows=50)
    rows = r.docs.collect()
    assert rows
    grps = [x["grp"] for x in rows]
    assert grps == sorted(grps)
    assert len(set(grps)) == len(grps)  # collapsed: one doc per group
    assert set(r.docs.columns) == {"doc_id", "grp", "score"}
    # winners are the collapse winners (max score, doc_id tie-break)
    want = {
        (x["grp"], x["doc_id"])
        for x in select(idx, Q, fields=fields, collapse_field="grp",
                        rows=50).docs.collect()
    }
    assert {(x["grp"], x["doc_id"]) for x in rows} == want


def test_select_empty_facets_match_nonempty_schema(idx, fields):
    """A zero-match request's facet frames must carry EXACTLY the dtypes
    of the matching path (long stays long, range buckets keep their
    type) so cross-request unions never schema-mismatch."""
    jf = ("grp", [("sum_chars", lambda col: F.sum(col("n_chars")))])
    rngs = {"len_bucket": (F.col("n_chars") / 10).cast("long")}
    hit = select(idx, Q, fields=fields, facet_fields=("grp",),
                 json_facet=jf, facet_ranges=rngs)
    miss = select(idx, "zzznosuchterm", fields=fields,
                  facet_fields=("grp",), json_facet=jf, facet_ranges=rngs)
    assert set(hit.facets) == set(miss.facets)
    for k in hit.facets:
        assert hit.facets[k].schema == miss.facets[k].schema, k
        assert hit.facets[k].unionByName(miss.facets[k]).count() == \
            hit.facets[k].count()
    hit.release()
    miss.release()


NO_MATCH = "zzznosuchterm"


@pytest.mark.parametrize(
    "kind", ["plain", "boost", "collapse_int", "sort", "collapse_sort", "elevate", "rerank"]
)
def test_select_zero_hit_page_schema_matches_hit(idx, fields, kind):
    """A zero-hit request runs the same stages over an empty match set, so
    its page has EXACTLY the matching path's schema: the collapse key keeps
    its dtype from ``fields`` (a bigint key stays bigint), ``sort_field``
    stays in the page, and elevation keeps its elevated/rank columns."""
    flds = fields.withColumn("grp_id", F.col("doc_id") % 3)
    kw = {
        "plain": {},
        "boost": {"fields": flds, "boost": recip(F.col("n_chars"), 0.01, 1.0, 1.0)},
        "collapse_int": {"fields": flds, "collapse_field": "grp_id"},
        "sort": {"fields": flds, "sort_field": "n_chars"},
        "collapse_sort": {"fields": flds, "collapse_field": "grp_id", "sort_field": "n_chars"},
        "elevate": {"elevate_ids": [1, 2]},
        "rerank": {"rerank_query": "word"},
    }[kind]
    hit = select(idx, Q, rows=5, **kw).docs
    miss = select(idx, NO_MATCH, rows=5, **kw).docs
    assert miss.schema == hit.schema
    assert miss.count() == (2 if kind == "elevate" else 0)
    assert hit.unionByName(miss).count() == hit.count() + miss.count()


def test_select_elevation_pins_on_zero_hits(spark, idx):
    """forceElevation on a query that matches nothing: the elevated docs
    that survive fq, exclude and deletes are still pinned, in configured
    order, with score 0.0, elevated=True and dense ranks."""
    import dataclasses

    word_docs = {x["doc_id"] for x in score_or_docs(idx, "word").collect()}
    excluded = min(d for d in word_docs if d % 2 == 0)
    deleted, kept_a, kept_b = [
        d for d in range(idx.n_docs) if d % 2 == 0 and d not in word_docs
    ][:3]
    odd = next(d for d in range(idx.n_docs) if d % 2 == 1 and d not in word_docs)
    live = dataclasses.replace(
        idx, deletes=spark.createDataFrame([(deleted,)], "doc_id long")
    )
    r = select(live, NO_MATCH, fq=F.col("doc_id") % 2 == 0, exclude="word",
               elevate_ids=[kept_b, odd, excluded, deleted, kept_a], rows=10)
    got = [(x["doc_id"], x["score"], x["elevated"], x["rank"]) for x in r.docs.collect()]
    assert got == [(kept_b, 0.0, True, 0), (kept_a, 0.0, True, 1)]


def test_select_rejects_unknown_boost_mode(idx, fields):
    """An unknown boost_mode is a 400, never a silent fallback to sum."""
    with pytest.raises(ValueError, match="boost_mode"):
        select(idx, Q, fields=fields, boost=F.col("n_chars"), boost_mode="multiplyy")
