"""WAND as the page-only ``/select`` scorer: the one-job cost rule, the
doc-id range metadata it reads, the request routing, its three execution
paths (driver, task, UB loop) and the warm job floor (a warm top-k request
on a delete-free index runs 1 Spark job, with no Python stage)."""

import copy
import itertools

import pytest
from pyspark.sql import functions as F

from solr_sematic_importer_spark.operators import block_postings, select as select_mod
from solr_sematic_importer_spark.operators.block_postings import (
    _bucket_span,
    bm25_topk_wand,
)
from solr_sematic_importer_spark.operators.build import (
    build_and_write_index,
    build_index,
    delete_by_query,
    read_index,
    read_meta_file,
    write_index,
    write_meta_file,
)
from solr_sematic_importer_spark.operators.boolean_query import boolean_query_topk
from solr_sematic_importer_spark.operators.score import bm25_topk
from solr_sematic_importer_spark.operators.segments import (
    append_segment,
    read_segmented_index,
)
from solr_sematic_importer_spark.operators.select import select
from solr_sematic_importer_spark.sources.transcripts import synthetic_transcripts

N_DOCS = 3000
# "hot" is in every doc, so its df (3000) exceeds the df budget at k=1
# (64*1*32 = 2048): only the doc-id span rule sends it down the one-job path
HEAD_Q = "hot"
QUERIES = [HEAD_Q, "hot tied", "tied tied filler3", "filler1 filler5 hot", "nosuchterm"]
# for the synthetic-transcript indexes: a rare pair, stopwords, a duplicate
TRANSCRIPT_QUERIES = ["zeppelin quartz", "the you one word", "the the you"]
_groups = itertools.count()


def _texts(n):
    # docs repeat every 21 ids, so equal texts score bit-identically: exact
    # ties at the k-th score for every k below
    return [
        (i, f"hot filler{i % 7}" + (" tied" if i % 3 == 0 else ""))
        for i in range(n)
    ]


def _rows(df):
    return [(r["doc_id"], r["score"]) for r in df.select("doc_id", "score").collect()]


def _exhaustive(idx, q, k):
    return _rows(bm25_topk(idx, q, k=k, quantize=True))


def _jobs(spark, fn):
    """(Spark jobs fn ran, fn's result), counted through a job group."""
    sc = spark.sparkContext
    group = f"wand-routing-{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


@pytest.fixture
def arrow_collects(spark, monkeypatch):
    """The plans of every ``DataFrame.toArrow`` collect: WAND's driver path
    runs exactly one per request, the task path and the UB loop none."""
    cls = type(spark.range(1))
    real = cls.toArrow
    plans = []

    def spy(self):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return real(self)

    monkeypatch.setattr(cls, "toArrow", spy)
    return plans


@pytest.fixture(scope="module")
def small(spark, tmp_path_factory):
    """3000 docs in 3 buckets of 1024: the span (3) fits bucket_batch."""
    df = spark.createDataFrame(_texts(N_DOCS), "doc_id long, text string")
    path = str(tmp_path_factory.mktemp("small") / "idx")
    return build_and_write_index(df, path, key_cols=(), profile="simple",
                                 doc_id_col="doc_id", bucket_bits=10)


@pytest.fixture(scope="module")
def written(spark, tmp_path_factory):
    df = synthetic_transcripts(spark, 40)
    path = str(tmp_path_factory.mktemp("routed") / "idx")
    return build_and_write_index(df, path, profile="text_general"), path, df


@pytest.fixture(scope="module")
def segmented(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("routed_segs"))
    full = synthetic_transcripts(spark, 40).persist()
    cut = F.col("conv_id") < "conv_00000020"
    for i, part in enumerate((full.filter(cut), full.filter(~cut))):
        append_segment(spark, path, f"s{i}", part, profile="text_general", bucket_bits=8)
    return read_segmented_index(spark, path)


# -- k=0 / negative k --------------------------------------------------------


@pytest.mark.parametrize("fast_path", [True, False])
def test_wand_k_zero_is_empty_and_negative_k_raises(small, fast_path):
    # at k=0 the df budget is 0, so even a rare term used to reach the UB
    # loop, whose theta() read heap[0] of an empty heap (IndexError)
    for q in ("filler3", HEAD_Q):
        assert bm25_topk_wand(small, q, k=0, fast_path=fast_path).collect() == []
        assert bm25_topk(small, q, k=0).collect() == []
    with pytest.raises(ValueError, match="k must be >= 0"):
        bm25_topk_wand(small, "filler3", k=-1, fast_path=fast_path)


# -- the one-job rule --------------------------------------------------------


def _paths_equal_exhaustive(idx, queries, monkeypatch, arrow_collects):
    for q in queries:
        for k in (1, 5, 13):
            want = _exhaustive(idx, q, k)
            n = len(arrow_collects)
            assert _rows(bm25_topk_wand(idx, q, k=k)) == want, (q, k)
            assert len(arrow_collects) == n + (1 if want else 0), (q, k)
            with monkeypatch.context() as m:  # no budget: the task path
                m.setattr(block_postings, "TASK_POSTINGS", 0)
                assert _rows(bm25_topk_wand(idx, q, k=k)) == want, (q, k)
            assert _rows(bm25_topk_wand(idx, q, k=k, fast_path=False)) == want, (q, k)
            assert len(arrow_collects) == n + (1 if want else 0), (q, k)


def test_one_job_path_identical_to_ub_loop(small, monkeypatch, arrow_collects):
    """Span <= bucket_batch: the default one-job path, on the driver and
    (budget forced to 0) as a Spark task, equals the UB loop and the
    exhaustive scorer bit for bit — exact ties at the k-th score and
    duplicate query terms included."""
    assert _bucket_span(small) == 3
    _paths_equal_exhaustive(small, QUERIES, monkeypatch, arrow_collects)
    for q in QUERIES:
        loop1 = bm25_topk_wand(small, q, k=5, fast_path=False, bucket_batch=1)
        assert _rows(loop1) == _exhaustive(small, q, 5), q


@pytest.mark.parametrize("which", ["written", "segmented"])
def test_every_path_identical_on_transcripts(request, which, monkeypatch, arrow_collects):
    idx = request.getfixturevalue(which)
    idx = idx[0] if isinstance(idx, tuple) else idx
    _paths_equal_exhaustive(idx, TRANSCRIPT_QUERIES, monkeypatch, arrow_collects)


def test_driver_path_memory_is_bounded_by_postings(spark, tmp_path, arrow_collects):
    """Two docs 2**40 ids apart: a dense doc-id range array would need
    8 TB, but the driver path indexes through the candidate docs."""
    far = 1 << 40
    df = spark.createDataFrame([(0, "alpha beta"), (far, "alpha alpha")],
                               "doc_id long, text string")
    idx = build_and_write_index(df, str(tmp_path / "idx"), key_cols=(),
                                profile="simple", doc_id_col="doc_id", bucket_bits=10)
    assert (idx.min_doc_id, idx.max_doc_id) == (0, far)
    for q in ("alpha beta", "alpha", "beta beta"):
        got = _rows(bm25_topk_wand(idx, q, k=2))
        assert got == _exhaustive(idx, q, 2), q
    assert [d for d, _ in _rows(bm25_topk_wand(idx, "alpha", k=2))] == [far, 0]
    assert len(arrow_collects) == 4
    idx.release()


def test_one_job_path_identical_with_deletes(spark, tmp_path, arrow_collects):
    df = spark.createDataFrame(_texts(N_DOCS), "doc_id long, text string")
    idx = build_and_write_index(df, str(tmp_path / "idx"), key_cols=(),
                                profile="simple", doc_id_col="doc_id", bucket_bits=10)
    # delete the top of every tie group so live docs ranked just below
    # deleted ones must surface
    delete_by_query(idx, (F.col("doc_id") % 21 == 0) | (F.col("doc_id") < 40))
    for q in QUERIES[:3]:
        for k in (1, 7):
            want = _exhaustive(idx, q, k)
            assert _rows(bm25_topk_wand(idx, q, k=k)) == want, (q, k)
            assert _rows(bm25_topk_wand(idx, q, k=k, fast_path=False)) == want, (q, k)
    assert all(d % 21 and d >= 40 for d, _ in _rows(bm25_topk_wand(idx, HEAD_Q, k=50)))
    assert arrow_collects == []  # pending deletes: the task path, never the driver
    idx.release()


def test_warm_wand_and_page_only_select_run_one_job(spark, small, written, arrow_collects):
    for idx, q in ((small, HEAD_Q), (written[0], "the to and")):
        # small: df over budget, so only the span rule gives one job
        bm25_topk_wand(idx, q, k=1).collect()  # memoizes df
        n_wand, wand = _jobs(spark, lambda: _rows(bm25_topk_wand(idx, q, k=1)))
        n_sel, page = _jobs(spark, lambda: _rows(select(idx, q, rows=1).docs))
        n_loop, loop = _jobs(spark, lambda: _rows(bm25_topk_wand(idx, q, k=1, fast_path=False)))
        assert n_wand == n_sel == 1, (n_wand, n_sel)
        assert n_loop > 2  # the UB loop this request used to take
        assert wand == page == loop
    # that one job is the candidate blocks' Arrow collect: no Python stage
    assert len(arrow_collects) == 6
    for plan in arrow_collects:
        assert not any(op in plan for op in ("Python", "Pandas", "MapInArrow")), plan


LEAF_Q = "state of the art window"


def _select_combined(idx):
    r = select(
        idx, LEAF_Q, fq=F.col("doc_id") % 2 == 0,
        fields=idx.doc_stats.select("doc_id", "conv_id", "dl"),
        boost=F.col("dl"), collapse_field="conv_id", facet_fields=("conv_id",),
        rows=5,
    )
    out = _rows(r.docs), {name: f.collect() for name, f in r.facets.items()}
    r.release()
    return out


@pytest.mark.parametrize("run, most", [
    pytest.param(lambda idx: _rows(bm25_topk(idx, LEAF_Q, k=10)), 4, id="bm25_topk"),
    pytest.param(lambda idx: _rows(bm25_topk(idx, LEAF_Q, k=10, quantize=False)), 5,
                 id="bm25_topk_exact_dl"),
    pytest.param(lambda idx: _rows(boolean_query_topk(
        idx, "+the to -and zeppelin^2", k=10, quantize=False)), 6, id="boolean_terms"),
    pytest.param(_select_combined, 7, id="select_fq_boost_collapse_facet"),
])
def test_warm_term_leaf_job_floor(spark, written, run, most):
    """Each exhaustive BM25 term leaf decodes its terms in one stage sized
    by their df and reads its weights from literal maps, so a warm request
    runs a fixed, small number of jobs. With a broadcast weight table and
    a rebalanced decode per leaf these requests ran 7, 8, 16 and 11."""
    idx = written[0]
    run(idx)  # memoizes df
    counts = [_jobs(spark, lambda: run(idx))[0] for _ in range(2)]
    assert counts[0] == counts[1] <= most, counts


def test_ub_loop_collects_at_most_batch_times_k_rows_per_round(spark, monkeypatch, tmp_path):
    """Each bucket is cut to its top-k before collect(), so one loop round
    brings at most bucket_batch * k scored rows to the driver."""
    df = spark.createDataFrame(_texts(1000), "doc_id long, text string")
    idx = build_and_write_index(df, str(tmp_path / "idx"), key_cols=(),
                                profile="simple", doc_id_col="doc_id",
                                bucket_bits=6)  # 16 buckets
    batch, k = 3, 4
    cls = type(idx.doc_stats)
    real_collect = cls.collect
    scored_rounds, bound_rounds = [], []

    def spy(self):
        rows = real_collect(self)
        if self.columns == ["doc_id", "score"]:
            scored_rounds.append(len(rows))
        elif "ub" in self.columns:
            bound_rounds.append(len(rows))
        return rows

    monkeypatch.setattr(cls, "collect", spy)
    got = bm25_topk_wand(idx, HEAD_Q, k=k, bucket_batch=batch, fast_path=False)
    monkeypatch.undo()
    assert len(scored_rounds) >= 2
    assert max(scored_rounds) <= batch * k
    assert max(bound_rounds) <= batch
    assert _rows(got) == _exhaustive(idx, HEAD_Q, k)
    idx.release()


# -- doc-id range metadata ---------------------------------------------------


def test_doc_id_range_written_by_both_builds_and_read_back(spark, written, tmp_path):
    df = spark.createDataFrame(_texts(N_DOCS), "doc_id long, text string")
    mem = build_index(df, key_cols=(), profile="simple", doc_id_col="doc_id")
    assert (mem.min_doc_id, mem.max_doc_id) == (0, N_DOCS - 1)
    write_index(mem, str(tmp_path / "mem"))
    mem.release()
    back = read_index(spark, str(tmp_path / "mem"))
    assert (back.min_doc_id, back.max_doc_id) == (0, N_DOCS - 1)

    disk, path, _ = written
    meta = read_meta_file(spark, path)
    assert (int(meta["min_doc_id"]), int(meta["max_doc_id"])) == (0, disk.n_docs - 1)
    assert (disk.min_doc_id, disk.max_doc_id) == (0, disk.n_docs - 1)
    # build_and_write_index records the BM25 parameters its impacts encode
    assert (disk.impact_k1, disk.impact_b) == (1.2, 0.75)


def test_segmented_range_derived_from_manifest(segmented):
    assert (segmented.min_doc_id, segmented.max_doc_id) == (0, segmented.n_docs - 1)
    assert _bucket_span(segmented) == ((segmented.n_docs - 1) >> 8) + 1


def test_legacy_meta_without_range_keeps_df_rule(spark, small, tmp_path):
    path = str(tmp_path / "legacy")
    write_index(small, path)
    meta = read_meta_file(spark, path)
    del meta["min_doc_id"], meta["max_doc_id"]
    write_meta_file(spark, path, meta)
    old = read_index(spark, path)
    assert old.min_doc_id is None and old.max_doc_id is None
    assert _bucket_span(old) is None
    bm25_topk_wand(old, HEAD_Q, k=1).collect()  # memoizes df
    n_old, got = _jobs(spark, lambda: _rows(bm25_topk_wand(old, HEAD_Q, k=1)))
    assert n_old > 2  # no range: df over budget -> the UB loop, as before
    assert got == _exhaustive(old, HEAD_Q, 1)


# -- /select routing ---------------------------------------------------------


@pytest.fixture
def wand_calls(monkeypatch):
    calls = []

    def spy(*args, **kwargs):
        calls.append(kwargs)
        return bm25_topk_wand(*args, **kwargs)

    monkeypatch.setattr(select_mod, "bm25_topk_wand", spy)
    return calls


@pytest.mark.parametrize("which", ["written", "segmented"])
def test_page_only_select_equals_exhaustive(request, which, wand_calls):
    idx = request.getfixturevalue(which)
    idx = idx[0] if isinstance(idx, tuple) else idx
    for q in ["zeppelin quartz", "the you one word", "the the you", "zzznosuchterm", ""]:
        for rows in (0, 3, 10):
            got = _rows(select(idx, q, rows=rows).docs)
            assert got == _exhaustive(idx, q, rows), (q, rows)
    assert len(wand_calls) == 15


def test_disqualified_requests_take_exhaustive_path(written, wand_calls):
    idx = written[0]
    q = "the you one word"
    cases = [
        (dict(k1=1.5), dict(k1=1.5)),
        (dict(quantize=False), dict(quantize=False)),
        (dict(mm=2), dict(min_match=2)),
        (dict(fq=F.col("turn_idx") < 5), dict(extra_filter=F.col("turn_idx") < 5)),
    ]
    for sel_kw, ref_kw in cases:
        got = _rows(select(idx, q, rows=10, **sel_kw).docs)
        assert got == _rows(bm25_topk(idx, q, k=10, **ref_kw)), sel_kw
    assert wand_calls == []


def test_routed_page_hl_and_debug_match_exhaustive(written, wand_calls):
    idx, _, df = written
    src = idx.doc_stats.join(df, ["conv_id", "turn_idx"]).select("doc_id", "text")
    q = "zeppelin quartz the"
    routed = select(idx, q, rows=6, hl_source=src, debug=True)
    assert len(wand_calls) == 1
    # num_found disqualifies routing without changing any other section
    exh = select(idx, q, rows=6, hl_source=src, debug=True, with_num_found=True)
    assert len(wand_calls) == 1
    assert _rows(routed.docs) == _rows(exh.docs)
    assert sorted(routed.highlighting.collect()) == sorted(exh.highlighting.collect())
    assert routed.highlighting.count() > 0
    assert sorted(routed.explain.collect()) == sorted(exh.explain.collect())
    exh.release()


def test_routing_falls_back_when_wand_would_raise(written, wand_calls):
    """Pending deletes without bucket_bits make WAND refuse; select() then
    scores exhaustively instead of raising."""
    idx = copy.copy(written[0])
    idx.deletes = idx.doc_stats.sparkSession.createDataFrame([(0,)], "doc_id long")
    idx.bucket_bits = None
    got = _rows(select(idx, "the you", rows=5).docs)
    assert got == _exhaustive(idx, "the you", 5)
    assert 0 not in [d for d, _ in got]
    assert wand_calls == []
