"""Positional postings + BM25 phrase queries.

Solr's ``/select`` handler answers ``q="exact phrase"`` through Lucene
``PhraseQuery`` over positional postings — a core query a user of the
reference's destination collection runs daily, delegated entirely to
Lucene (``semantic_base_config.zip -> solrconfig.xml:650-655``).
Spark-first re-implementation:

* ``build_positions`` — a separate (doc_id, term, posns array<int>)
  table, Lucene's ``.pos`` payload made explicit. Positions carry
  position-increment gaps for removed stopwords
  (``analyzer.analyze_with_positions``). Built only when phrase support
  is wanted; the core index stays positions-free.
* ``bm25_phrase_topk`` — exact-adjacency phrase match computed ENTIRELY
  with JVM higher-order array functions (no Python in the query path):
  candidate docs = inner joins of the per-term position rows (the term
  ``isin`` pushes to the scan), phrase frequency =
  ``size(filter(p0, x -> exists(p_i, y -> y = x + gap_i) ...))``,
  scored with Lucene PhraseQuery/BM25 semantics: one pseudo-term with
  ``idf = sum of member idfs`` (multiplicity counted) and
  ``tf = phrase frequency``, saturated by the usual dl norm.

Scale: per-term position rows are fetched by pushed term filters; the
(n_terms - 1) equi-joins are on doc_id over those slices only; skew is
bounded by the rarest term's df (the joins start from it).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..functions.analyzer import analyze_with_positions
from ..functions.similarity import B_DEFAULT, K1_DEFAULT, idf
from .build import InvertedIndex, term_dfs
from .score import bm25_partial, top_page


def build_positions(
    df: DataFrame,
    text_col: str = "text",
    doc_id_col: str = "doc_id",
    profile: str = "text_en",
) -> DataFrame:
    """(doc_id, term, posns) — one row per distinct (doc, term), positions
    ascending. One narrow Arrow stage (re-analysis; only paid when phrase
    support is enabled, like enabling positions in a Lucene field).

    ``profile`` MUST match the index the positions will be queried
    against (default text_en = ``build_index``'s default): a mismatched
    pairing holds unstemmed surface terms that a stemmed phrase query
    inner-joins to nothing — every phrase silently returns empty."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            if not len(b):
                continue
            ids, terms, poss = [], [], []
            for did, text in zip(b[doc_id_col], b[text_col]):
                ts, ps = analyze_with_positions(text, profile)
                acc: dict[str, list[int]] = {}
                for t, p in zip(ts, ps):
                    acc.setdefault(t, []).append(p)
                for t in sorted(acc):
                    ids.append(did)
                    terms.append(t)
                    poss.append(acc[t])
            yield pd.DataFrame({"doc_id": ids, "term": terms, "posns": poss})

    return df.select(doc_id_col, text_col).mapInPandas(
        kernel, "doc_id long, term string, posns array<int>"
    )


def phrase_match_counts(
    positions: DataFrame, terms: list[str], gaps: list[int], slop: int = 0
) -> DataFrame:
    """(doc_id, tfp): per doc, the number of phrase occurrences — starts x
    in the first term's positions such that every later term has a
    position at x + gap_i. All JVM array ops, whole-stage codegen.

    ``slop > 0`` is the sloppy-phrase variant (``"a b"~N``): a start x
    matches when an IN-ORDER chain of positions exists with each term i at
    ``prev < y_i <= x + gap_i + slop``. This is a documented divergence
    from Lucene's SloppyPhraseScorer, which (a) also admits reordered
    terms once slop >= their transposition cost and (b) weights each match
    1/(1 + slop_used) in the phrase freq; we count in-order windows with
    weight 1 — the match SET for in-order text is the same, the freq
    weighting is not."""
    uniq = sorted(set(terms))
    cand = positions.filter(F.col("term").isin(uniq))  # pushed to the scan
    joined = None
    for i, t in enumerate(terms):
        side = (
            cand.filter(F.col("term") == t)
            .select("doc_id", F.col("posns").alias(f"p{i}"))
        )
        joined = side if joined is None else joined.join(side, "doc_id")

    if slop == 0:
        def exists_at(col_name: str, x, gap: int):
            # factory, not loop-variable closure: Spark HOFs introspect the
            # lambda's arity, so the inner lambda must take exactly one arg
            return F.exists(F.col(col_name), lambda y: y == x + F.lit(gap))

        def start_ok(x):
            cond = F.lit(True)
            for i in range(1, len(terms)):
                cond = cond & exists_at(f"p{i}", x, gaps[i])
            return cond
    else:
        def chain_from(i: int, x, prev):
            # nested HOF exists: y_i must follow the previous match and
            # stay within the slop-widened expected position
            upper = x + F.lit(gaps[i] + slop)
            if i == len(terms) - 1:
                return F.exists(
                    F.col(f"p{i}"), lambda y: (y > prev) & (y <= upper)
                )
            return F.exists(
                F.col(f"p{i}"),
                lambda y: (y > prev) & (y <= upper) & chain_from(i + 1, x, y),
            )

        def start_ok(x):
            if len(terms) == 1:
                return F.lit(True)
            return chain_from(1, x, x)

    tfp = F.size(F.filter(F.col("p0"), start_ok))
    return joined.select("doc_id", tfp.alias("tfp")).filter(F.col("tfp") > 0)


def phrase_scores(
    index: InvertedIndex,
    positions: DataFrame,
    terms: "list[str]",
    poss: "list[int]",
    boost: float,
    slop: int,
    k1: float,
    b: float,
    quantize: bool,
) -> "DataFrame | None":
    """The PhraseQuery leaf shared by ``bm25_phrase_topk`` and the boolean
    engine's phrase clause: (doc_id, s) for the analyzed ``terms`` at
    ``poss``, scored as one pseudo-term with ``w = boost * sum of member
    idfs`` and ``tf = phrase frequency``. None when a member is unindexed."""
    dfs = term_dfs(index, sorted(set(terms)))
    if any(dfs.get(t, 0) == 0 for t in terms):
        return None
    w = boost * sum(idf(dfs[t], index.n_docs) for t in terms)  # multiplicity counts
    dl_col = "dl_quant" if quantize else "dl"
    hits = phrase_match_counts(positions, terms, [p - poss[0] for p in poss], slop=slop)
    return hits.join(index.doc_stats.select("doc_id", dl_col), "doc_id").select(
        "doc_id", bm25_partial(F.lit(w), F.col("tfp"), dl_col, index.avgdl, k1, b).alias("s")
    )


def bm25_phrase_topk(
    index: InvertedIndex,
    positions: DataFrame,
    phrase: str,
    k: int = 10,
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
    quantize: bool = True,
    slop: int = 0,
) -> DataFrame:
    """Phrase top-k (exact when ``slop=0``, sloppy otherwise — see
    ``phrase_match_counts``), Lucene PhraseQuery scoring: the phrase is
    one pseudo-term with idf = sum of constituent idfs and tf = phrase
    frequency. Returns (doc_id, score), (score desc, doc_id asc)."""
    terms, poss = analyze_with_positions(phrase, index.profile)
    scored = (
        phrase_scores(index, positions, terms, poss, 1.0, slop, k1, b, quantize)
        if terms and index.n_docs
        else None
    )
    return top_page(
        index, None if scored is None else scored.withColumnRenamed("s", "score"), k
    )
