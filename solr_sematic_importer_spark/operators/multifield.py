"""Multi-field documents: per-field postings + weighted multi-field query.

The reference's chunk schema declares multiple concrete analyzed fields on
one document (``default-chunk-config.zip -> managed-schema.xml:449-463``)
and its MS MARCO source carries (title, body) pairs
(``MsMarcoDownloader.java:50-90``); queries weight fields Solr-edismax
style (``qf=title^3 body``). Lucene's model: every field is its own
inverted index with its OWN statistics — docCount_f (docs where the field
has >=1 term), avgdl_f, df_f(term) — and a multi-field query combines the
per-field BM25 scores, either as a weighted SUM (Boolean OR across fields)
or as DisMax (max + tie * sum-of-others, edismax ``tie=``).

Spark-first shape — the single-field build pipeline, run per field:

* ONE fused Python stage (``build._analyze``) stamps doc ids and analyzes
  ALL fields per input row (per-field tokenize + tf fold) — token
  occurrences never shuffle, and adding a field adds zero extra Python
  round-trips;
* every stage after analysis (``build._index_analyzed``: doc_stats,
  explode, the (term, bucket) block encode, term_stats from block
  metadata) runs once per field over the docs whose field analyzed to
  >= 1 token, so each field is a plain ``InvertedIndex`` with its own
  docCount_f, avgdl_f and df_f — the same blocks and the same readers as
  every other index;
* query-time: a term leaf is ``score.term_leaf`` over the weighted
  fields (ONE decode stage for all of them; boost_f * idf_f and avgdl_f
  are literal maps); the per-doc combine folds a SORTED (field,term)
  array so float order is fixed and results are bit-identical across
  parallelism levels;
* top-k is ``score.top_page`` -> TakeOrderedAndProject (per-partition
  heaps + driver k-way merge).
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass, field as dc_field
from typing import Mapping, Sequence

from pyspark.sql import DataFrame, functions as F

from ..functions.queryparser import QueryParseError, parse_query
from ..functions.similarity import B_DEFAULT, K1_DEFAULT, idf
from .boolean_query import DROPPED_CLAUSE, _Evaluator
from .build import (
    CACHE_LEVEL,
    InvertedIndex,
    _analyze,
    _index_analyzed,
    term_dfs,
)
from .score import (
    analyze_query,
    constant_scores,
    sorted_fold,
    term_leaf,
    top_page,
    wildcard_to_regex,
)


@dataclass
class MultiFieldIndex:
    """Per-field inverted indexes over one document set, one handle."""

    doc_stats: DataFrame     # doc_id, <key cols...> of every document
    fields: "dict[str, InvertedIndex]"  # per field: the docs with >= 1 token in it
    n_docs: int              # total documents (any field)
    profile: str
    key_cols: Sequence[str] = dc_field(default_factory=tuple)
    _caches: list = dc_field(default_factory=list, repr=False, compare=False)

    def release(self) -> None:
        for index in self.fields.values():
            index.release()
        for df in self._caches:
            try:
                df.unpersist()
            except Exception:
                pass
        self._caches.clear()


def build_multifield_index(
    df: DataFrame,
    fields: Sequence[str] = ("title", "body"),
    key_cols: Sequence[str] = (),
    profile: str = "simple",
    doc_id_col: str | None = None,
) -> MultiFieldIndex:
    """Analyze every field in one fused Python stage, then build each
    field's index from the single cached output. Without ``doc_id_col``,
    ids are stamped by ``key_cols`` order (by the field texts when there
    are no key cols)."""
    fields = tuple(fields)
    analyzed = _analyze(df, {f"_{f}": f for f in fields}, key_cols, profile, doc_id_col)
    analyzed.persist(CACHE_LEVEL)
    n_docs = analyzed.count()
    # Lucene per-field stats: docCount_f counts docs with >=1 term IN THAT
    # FIELD, so each field's index holds only those docs
    per_field = {
        f: _index_analyzed(
            analyzed.filter(F.col(f"dl_{f}") > 0).select(
                "doc_id",
                F.col(f"terms_{f}").alias("terms"),
                F.col(f"tfs_{f}").alias("tfs"),
                F.col(f"dl_{f}").alias("dl"),
            ),
            path=None, profile=profile, key_cols=(), bucket_bits=None,
            k1=K1_DEFAULT, b=B_DEFAULT,
        )
        for f in fields
    }
    key_cols = tuple(c for c in key_cols if c != doc_id_col)
    return MultiFieldIndex(
        doc_stats=analyzed.select("doc_id", *key_cols),
        fields=per_field,
        n_docs=n_docs,
        profile=profile,
        key_cols=key_cols,
        _caches=[analyzed],
    )


def _field_partials(
    index: MultiFieldIndex,
    field_weights: Mapping[str, float],
    terms: Sequence[str],
    boost: float,
    k1: float,
    b: float,
    quantize: bool,
) -> "DataFrame | None":
    """(doc_id, field, term, s) BM25 partials of the analyzed ``terms``
    over the weighted fields, ``w = boost * boost_f * mult * idf_f``: the
    multi-field call of ``score.term_leaf``. None when no (field, term)
    pair is indexed."""
    counts = Counter(terms)
    leaves = {}
    for f, boost_f in field_weights.items():
        fi = index.fields[f]
        dfs = term_dfs(fi, list(counts))
        leaves[f] = (fi, {
            t: boost * boost_f * float(mult) * idf(dfs[t], fi.n_docs)
            for t, mult in counts.items() if dfs[t] > 0
        })
    scored = term_leaf(leaves, k1, b, quantize)
    return None if scored is None else scored.select("doc_id", "field", "term", "s")


def _field_term_leaf(index, field_weights, text, boost, k1, b, quantize):
    """The per-field BM25 leaf: (doc_id, s) summed over the analyzed
    tokens of ``text`` x the weighted fields, folded in (field, term)
    order. DROPPED_CLAUSE when ``text`` analyzes to nothing (the classic
    parser drops the clause); None when nothing is indexed (df=0 keeps
    the clause, matching nothing)."""
    terms = analyze_query(text, index.profile)
    if not terms:
        return DROPPED_CLAUSE
    scored = _field_partials(index, field_weights, terms, boost, k1, b, quantize)
    if scored is None:
        return None
    return scored.groupBy("doc_id").agg(sorted_fold("field", "term").alias("s"))


def bm25_multifield_topk(
    index: MultiFieldIndex,
    query: str,
    qf: Mapping[str, float],
    k: int = 10,
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
    quantize: bool = True,
    combine: str = "sum",
    tie: float = 0.0,
) -> DataFrame:
    """Top-k docs for an OR query over weighted fields.

    ``combine="sum"``: score(d) = sum_t sum_f boost_f * BM25_f(t, d)
    (Boolean OR across the per-field term queries — the per-field leaf
    of the boolean combine).
    ``combine="dismax"``: per term, max_f + tie * (sum_f - max_f) — Solr
    edismax's DisjunctionMaxQuery with tiebreaker (``tie=`` request
    param); tie=0 is pure max, tie=1 degenerates to the sum.
    idf_f uses the FIELD's docCount/df (per-field index statistics, as
    Lucene computes them).
    """
    if combine not in ("sum", "dismax"):
        raise ValueError(f"combine must be 'sum' or 'dismax', got {combine!r}")
    boosts = {f: float(w) for f, w in qf.items() if f in index.fields}
    if not boosts or index.n_docs == 0:
        return top_page(index, None, k)
    if combine == "sum":
        per_doc = _field_term_leaf(index, boosts, query, 1.0, k1, b, quantize)
        if per_doc is None or per_doc is DROPPED_CLAUSE:
            return top_page(index, None, k)
        per_doc = per_doc.withColumnRenamed("s", "score")
    else:
        scored = _field_partials(
            index, boosts, analyze_query(query, index.profile), 1.0, k1, b, quantize
        )
        if scored is None:
            return top_page(index, None, k)
        # per (doc, term): max over fields + tie * rest; fold order fixed
        # by the field-sorted array
        per_term = scored.groupBy("doc_id", "term").agg(
            sorted_fold("field").alias("sum_s"), F.max("s").alias("max_s")
        ).select(
            "doc_id",
            "term",
            (F.col("max_s") + F.lit(float(tie)) * (F.col("sum_s") - F.col("max_s"))).alias("s"),
        )
        per_doc = per_term.groupBy("doc_id").agg(sorted_fold("term").alias("score"))
    return top_page(index, per_doc, k)


class _FieldEvaluator(_Evaluator):
    """The boolean combine's leaves on a multi-field index: a term becomes
    a per-field BM25 leaf (its own field, or ``qf`` when unqualified); a
    prefix or wildcard becomes a constant-score leaf over the field
    index's term dictionary."""

    def __init__(self, index, boosts, k1, b, quantize):
        super().__init__(index, k1, b, quantize)
        self.boosts = boosts

    def leaf_scores(self, c):
        if c.kind == "term":
            fw = {c.field: 1.0} if c.field else self.boosts
            return _field_term_leaf(
                self.index, fw, c.text, c.boost, self.k1, self.b, self.quantize
            )
        if c.field is None:
            raise QueryParseError(
                f"clause kind {c.kind!r} requires a field qualifier context "
                "the multi-field executor does not cover; use the "
                "single-field boolean engine for default-field queries"
            )
        if c.kind == "prefix":
            return constant_scores(
                self.index.fields[c.field], F.col("term").startswith(c.text), c.boost
            )
        if c.kind == "wildcard":
            return constant_scores(
                self.index.fields[c.field],
                F.col("term").rlike(wildcard_to_regex(c.text)),
                c.boost,
            )
        raise QueryParseError(
            f"fielded {c.kind!r} clauses are not supported on the "
            "multi-field index (supported: term, prefix, wildcard)"
        )


def fielded_query_topk(
    index: MultiFieldIndex,
    q: str,
    qf: Mapping[str, float] | None = None,
    k: int = 10,
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
    quantize: bool = True,
) -> DataFrame:
    """Lucene classic-parser queries with concrete field qualifiers over
    the multi-field index: ``title:merge body:sort window -title:draft``.

    Semantics (BooleanQuery over per-field TermQueries, executed by the
    single-field engine's combine, ``boolean_query._Evaluator``):

    * ``field:term`` scores BM25 against THAT field's postings/stats only;
    * an unqualified term is an edismax-style disjunction over ``qf``
      (weighted SUM across fields — pass ``qf={field: boost}``; defaults
      to every field at boost 1);
    * ``+``/``AND`` -> MUST, ``-``/``NOT`` -> MUST_NOT (anti-join),
      bare/OR -> SHOULD; ``( ... )`` groups nest, their boost multiplying
      the group's score;
    * ``field:prefix*`` / ``field:te?t`` rewrite constant-score over the
      field's term dictionary (MultiTermQuery constant-score rewrite);
    * score = deterministic clause-ordered fold of matching MUST+SHOULD
      clause scores (bit-stable across parallelism);
    * phrase / fuzzy / range clauses are rejected with a clear error (the
      single-field engine covers them on the default field).

    Scale shape: every leaf pushes ``term IN (...)`` into its field's
    blocks scan; the combine is one union + hash agg on doc_id
    plus one anti-join per prohibited clause.
    """
    boosts = (
        {f: float(w) for f, w in qf.items() if f in index.fields}
        if qf is not None
        else {f: 1.0 for f in index.fields}
    )
    clauses = parse_query(q, fields=index.fields)
    return _FieldEvaluator(index, boosts, k1, b, quantize).topk(clauses, k)
