"""Boolean-query execution for the Lucene classic parser syntax
(``functions/queryparser.py``) — BooleanQuery semantics over the engine's
index:

* score = sum of matching MUST + SHOULD clause scores (deterministic
  fold ordered by clause id, so results are bit-stable across
  parallelism);
* a doc must match EVERY MUST clause; with no MUST clause, at least one
  SHOULD (implicit — only matching docs ever enter the union);
* MUST_NOT clauses anti-join their doc sets away;
* a top-level query with ONLY prohibited clauses matches everything
  except them at score 1.0 — Solr's pure-negative rewrite
  (MatchAllDocs + exclusions), which plain Lucene rejects;
* term clauses score BM25 (idf x saturated tf x boost); phrase clauses
  score PhraseQuery-style over the positions table; prefix clauses score
  constant 1.0 x boost (MultiTermQuery constant-score rewrite); groups
  recurse with their boost multiplying the combined score.

Scale shape: every leaf is the corresponding single-clause plan (pushed
term predicates; a term leaf is ``score.term_leaf``: one df-sized decode
and literal-map weights); the boolean combine is ONE union + hash
aggregate on doc_id plus one anti-join per prohibited clause. The
multi-field executor (``multifield.fielded_query_topk``) runs this same
combine over per-field leaves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.analyzer import analyze_with_positions
from ..functions.queryparser import MUST, MUST_NOT, SHOULD, Clause, parse_query
from ..functions.similarity import B_DEFAULT, K1_DEFAULT, idf
from .build import InvertedIndex, term_dfs
from .phrase import phrase_scores
from .score import (
    analyze_query,
    constant_scores,
    fuzzy_scores,
    sorted_fold,
    term_leaf,
    top_page,
    wildcard_to_regex,
)

# Sentinel: the clause ANALYZED TO NOTHING (e.g. a lone stopword under
# text_en) and must vanish from the query — Lucene's classic parser drops
# such clauses at parse time, so "merge AND the" degrades to "merge".
# Distinct from None, which means the clause EXISTS but matches no docs
# (df=0): an unmatchable MUST correctly empties the result, and an
# unmatched SHOULD still counts as a positive clause, blocking the
# pure-negative rewrite.
DROPPED_CLAUSE = object()


def boolean_query_topk(
    index: InvertedIndex,
    q: str,
    k: int = 10,
    positions: DataFrame | None = None,
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
    quantize: bool = True,
) -> DataFrame:
    """Parse and execute a Lucene-syntax query; top-k (doc_id, score)."""
    return _Evaluator(index, k1, b, quantize, positions).topk(parse_query(q), k)


def _range_pred(c: Clause):
    """TermRangeQuery: the vocab slice between the bounds (lexicographic,
    like Lucene's BytesRef order on the term dictionary)."""
    term = F.col("term")
    pred = F.lit(True)
    if c.lo is not None:
        pred = pred & (term >= c.lo if c.lo_inc else term > c.lo)
    if c.hi is not None:
        pred = pred & (term <= c.hi if c.hi_inc else term < c.hi)
    return pred


class _Evaluator:
    """The ONE BooleanQuery combine. Leaves come from the index type: this
    class scores single-field leaves; ``multifield._FieldEvaluator``
    overrides :meth:`leaf_scores` with per-field ones and shares the rest."""

    def __init__(self, index, k1, b, quantize, positions=None):
        self.index = index
        self.positions = positions
        self.k1, self.b, self.quantize = k1, b, quantize
        self._next_cid = 0

    def _cid(self) -> int:
        self._next_cid += 1
        return self._next_cid

    def topk(self, clauses: list[Clause], k: int) -> DataFrame:
        scored = self.combine(clauses, top_level=True)
        return top_page(self.index, None if scored is DROPPED_CLAUSE else scored, k)

    # ---- leaf scorers: DataFrame (doc_id, s) or None when unmatchable ----

    def _term(self, text: str, boost: float):
        terms = analyze_query(text, self.index.profile)
        if not terms:
            return DROPPED_CLAUSE  # analyzed away (stopword) — not "df=0"
        # index-level df memo shared with every other scorer on this handle
        dfs = {t: d for t, d in term_dfs(self.index, terms).items() if d > 0}
        if not dfs:
            return None
        # a single input word analyzing to several tokens behaves as a
        # SHOULD group of them (documented divergence from the classic
        # parser's generated phrase)
        weights = {t: boost * idf(d, self.index.n_docs) for t, d in sorted(dfs.items())}
        scored = term_leaf({None: (self.index, weights)}, self.k1, self.b, self.quantize)
        return scored.groupBy("doc_id").agg(sorted_fold("term").alias("s"))

    def _phrase(self, text: str, boost: float, slop: int):
        terms, poss = analyze_with_positions(text, self.index.profile)
        if not terms:
            # whole phrase analyzed away — drops before the positions
            # requirement (nothing left to position-match)
            return DROPPED_CLAUSE
        if self.positions is None:
            raise ValueError(
                "phrase clause requires a positions table "
                "(operators.phrase.build_positions)"
            )
        return phrase_scores(
            self.index, self.positions, terms, poss, boost, slop,
            self.k1, self.b, self.quantize,
        )

    def leaf_scores(self, c: Clause) -> DataFrame | None:
        if c.kind == "term":
            return self._term(c.text, c.boost)
        if c.kind == "phrase":
            return self._phrase(c.text, c.boost, c.slop)
        if c.kind == "prefix":
            return constant_scores(self.index, F.col("term").startswith(c.text), c.boost)
        if c.kind == "fuzzy":
            # Lucene's blended-freq top-terms rewrite (score.fuzzy_scores)
            return fuzzy_scores(
                self.index, c.text, c.distance, c.boost,
                self.k1, self.b, self.quantize,
            )
        if c.kind == "wildcard":
            return constant_scores(
                self.index, F.col("term").rlike(wildcard_to_regex(c.text)), c.boost
            )
        if c.kind == "range":
            return constant_scores(self.index, _range_pred(c), c.boost)
        raise ValueError(c.kind)

    def clause_scores(self, c: Clause) -> DataFrame | None:
        if c.kind != "group":
            return self.leaf_scores(c)
        sub = self.combine(c.children, top_level=False)
        if sub is None or sub is DROPPED_CLAUSE:
            return sub
        return sub.select(
            "doc_id", (F.col("score") * F.lit(float(c.boost))).alias("s")
        )

    # ---- boolean combine --------------------------------------------------

    def combine(self, clauses: list[Clause], top_level: bool):
        parts: list[tuple[int, str, DataFrame]] = []
        prohibited: list[DataFrame] = []
        must_ids: list[int] = []
        unmatchable_must = False
        # a positive / a prohibited clause SURVIVED analysis (it may still
        # match nothing: df=0)
        has_positive = has_prohibited = False
        for c in clauses:
            df = self.clause_scores(c)
            if c.occur == MUST_NOT:
                if df is not DROPPED_CLAUSE:
                    has_prohibited = True
                    if df is not None:
                        prohibited.append(df.select("doc_id"))
                continue
            if df is DROPPED_CLAUSE:
                continue  # the classic parser drops analyzed-empty clauses
            has_positive = True
            if df is None:
                if c.occur == MUST:
                    unmatchable_must = True
                continue
            cid = self._cid()
            if c.occur == MUST:
                must_ids.append(cid)
            parts.append((cid, c.occur, df))

        if unmatchable_must:
            return None
        if not parts:
            # the rewrite only applies when the query is EFFECTIVELY pure
            # negative (no positive clause survived analysis); a positive
            # clause that merely matched nothing (df=0 SHOULD) keeps
            # BooleanQuery semantics: zero results, never the corpus
            if top_level and has_prohibited and not has_positive:
                # Solr's pure-negative rewrite: *:* minus the exclusions
                # (every doc when they all match nothing)
                base = self.index.doc_stats.select(
                    "doc_id", F.lit(1.0).alias("score")
                )
                for p in prohibited:
                    base = base.join(p, "doc_id", "left_anti")
                return base
            if not has_positive and not has_prohibited:
                return DROPPED_CLAUSE  # every clause analyzed away
            return None

        unioned = None
        for cid, _occur, df in parts:
            piece = df.select("doc_id", F.lit(cid).alias("cid"), "s")
            unioned = piece if unioned is None else unioned.unionByName(piece)
        agg = unioned.groupBy("doc_id").agg(
            sorted_fold("cid").alias("score"),
            F.collect_set("cid").alias("cids"),
        )
        if must_ids:
            need = F.array([F.lit(i) for i in must_ids])
            agg = agg.filter(F.size(F.array_intersect(F.col("cids"), need)) == len(must_ids))
        out = agg.select("doc_id", "score")
        for p in prohibited:
            out = out.join(p, "doc_id", "left_anti")
        return out
