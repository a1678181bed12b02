"""Physical-plan property assertions (the scale claims, checked)."""

import pytest
from pyspark.sql import functions as F

from solr_sematic_importer_spark.operators.build import (
    build_and_write_index,
    read_index,
)
from solr_sematic_importer_spark.operators.score import bm25_topk
from solr_sematic_importer_spark.plans.explain import (
    assert_column_pruned,
    assert_scan_pushdown,
    codegen_stage_count,
    has_node,
    plan_string,
    pushed_filters,
)
from solr_sematic_importer_spark.sources.transcripts import synthetic_transcripts


@pytest.fixture(scope="module")
def disk_idx(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("planidx"))
    build_and_write_index(
        synthetic_transcripts(spark, 40), path, profile="text_en",
        bucket_bits=8, write_doc_vectors=True,
    )
    return read_index(spark, path)


def test_query_term_predicate_reaches_scan(disk_idx):
    q = bm25_topk(disk_idx, "zeppelin quartz", k=5)
    assert_scan_pushdown(q, "In(term")


def test_topk_plans_as_take_ordered(disk_idx):
    q = bm25_topk(disk_idx, "zeppelin", k=5)
    assert has_node(q, "TakeOrderedAndProject")
    assert has_node(q, "BroadcastHashJoin") or has_node(q, "BroadcastNestedLoopJoin")


def test_term_weights_are_literals_not_a_broadcast_table(disk_idx):
    """A weight table built on the driver plans as a Scan ExistingRDD (or
    LocalTableScan) under a BroadcastExchange, one Spark job per leaf;
    term weights are map literals instead. The one broadcast left is the
    page's key-column lookup."""
    q = bm25_topk(disk_idx, "zeppelin quartz zeppelin", k=5)
    assert not has_node(q, "Scan ExistingRDD") and not has_node(q, "LocalTableScan")
    assert plan_string(q).count("BroadcastExchange (") == 1


def test_scoring_stays_in_codegen(disk_idx):
    q = bm25_topk(disk_idx, "zeppelin quartz", k=5)
    assert codegen_stage_count(q, execute=True) >= 1


def test_projection_prunes_scan_columns(disk_idx):
    df = disk_idx.postings_blocks.select("term", "doc_bytes").filter(
        F.col("term") == "zeppelin"
    )
    assert_column_pruned(df, "norm_bytes")
    assert pushed_filters(df)


def test_grouped_topk_single_window_no_extra_sort(spark, disk_idx):
    """Result grouping (select's collapse stage) = one window exchange on
    the group key + TakeOrdered for the head merge; no global sort of the
    full scored set."""
    from solr_sematic_importer_spark.operators.select import select

    groups = disk_idx.doc_stats.select(
        "doc_id", (F.col("doc_id") % 2).cast("string").alias("grp")
    )
    q = select(disk_idx, "zeppelin quartz", fields=groups, collapse_field="grp",
               rows=5).docs
    assert has_node(q, "Window")
    assert has_node(q, "TakeOrderedAndProject")
    plan = q._jdf.queryExecution().executedPlan().toString()
    # a global sort would plan an Exchange rangepartitioning(score ...);
    # the window shuffles by hashpartitioning(grp) and the final top-k is
    # TakeOrderedAndProject — no range exchange anywhere
    assert "rangepartitioning(score" not in plan


def test_facet_counts_use_partial_aggregation(disk_idx):
    """A2/Q5 facets: partial (map-side) + final hash aggregate — the
    shuffle carries pre-reduced rows, not raw ones."""
    q = disk_idx.doc_stats.groupBy("conv_id").agg(F.count("*").alias("cnt"))
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_phrase_positions_scan_prunes_and_pushes(spark, tmp_path, disk_idx):
    from solr_sematic_importer_spark.operators.phrase import (
        build_positions,
        phrase_match_counts,
    )

    docs = spark.createDataFrame(
        [(0, "alpha beta gamma"), (1, "beta alpha beta")],
        "doc_id long, text string",
    )
    p = str(tmp_path / "pos")
    build_positions(docs, profile="simple").write.parquet(p)
    pos = spark.read.parquet(p)
    q = phrase_match_counts(pos, ["alpha", "beta"], [0, 1])
    assert pushed_filters(q)  # term predicates reach the scan
    # the adjacency filter is JVM higher-order functions — no Python node
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PythonUDF" not in plan and "MapInPandas" not in plan


def test_block_metadata_scan_skips_binary_columns(disk_idx):
    # the WAND upper-bound pass reads only block METADATA — binary payload
    # columns must be pruned from that scan
    ub = (
        disk_idx.postings_blocks.filter(F.col("term") == "zeppelin")
        .groupBy("bucket_id")
        .agg(F.max("max_impact").alias("ub"))
    )
    assert_column_pruned(ub, "doc_bytes")
    assert_column_pruned(ub, "norm_bytes")


def test_mm_adds_no_extra_exchange(disk_idx):
    """mm clause counting rides the existing per-doc aggregation: the
    plan has the same number of shuffle exchanges as plain OR."""
    from solr_sematic_importer_spark.plans.explain import plan_string

    plain = plan_string(bm25_topk(disk_idx, "you one word", k=5))
    mm = plan_string(bm25_topk(disk_idx, "you one word", k=5, min_match=2))
    assert plain.count("Exchange") == mm.count("Exchange")


def test_boost_joins_after_reduction(spark, disk_idx):
    """The boost-field join input is the reduced match set (one row per
    doc), not postings: the plan joins doc_stats AFTER the score agg and
    still plans top-k as TakeOrdered."""
    from solr_sematic_importer_spark.operators.function_query import recip
    from solr_sematic_importer_spark.operators.select import select

    fields = disk_idx.doc_stats.select("doc_id", "dl")
    q = select(
        disk_idx, "you one word", fields=fields,
        boost=recip(F.col("dl"), 0.05, 1, 1), rows=5,
    ).docs
    assert has_node(q, "TakeOrderedAndProject")


def test_rerank_head_is_broadcast(disk_idx):
    """The rerank combine joins the request-sized top-N head broadcast —
    the rerank scan never shuffles against the full match set."""
    from solr_sematic_importer_spark.operators.select import select
    from solr_sematic_importer_spark.plans.explain import plan_string

    q = select(disk_idx, "you one word", rerank_query="word", rerank_docs=10,
               rows=5).docs
    plan = plan_string(q)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert has_node(q, "TakeOrderedAndProject")


def test_collapse_single_window(disk_idx):
    """Collapse = exactly one window function over the match set."""
    from solr_sematic_importer_spark.operators.select import select
    from solr_sematic_importer_spark.plans.explain import plan_string

    fields = disk_idx.doc_stats.select(
        "doc_id", (F.col("doc_id") % 5).alias("grp")
    )
    q = select(disk_idx, "you one word", fields=fields, collapse_field="grp",
               rows=5).docs
    import re

    plan = plan_string(q)
    # exactly one Window node (the detail header "(N) Window"); the
    # WindowGroupLimit nodes around it are Spark's rank-limit pushdown —
    # per-group truncation BEFORE the window shuffle, which is the plan
    # we want
    assert len(re.findall(r"\) Window\n", plan)) == 1
    assert has_node(q, "TakeOrderedAndProject")


def test_term_vectors_scan_prunes_on_doc_id(spark, disk_idx):
    """/tv reads the doc-major forward index with the doc_id filter
    pushed to the scan — never the term-ordered postings."""
    from solr_sematic_importer_spark.operators.mlt import term_vectors

    if disk_idx.doc_vectors is None:
        pytest.skip("no doc_vectors on this fixture")
    q = term_vectors(disk_idx, [1, 2], with_stats=False)
    assert pushed_filters(q)
