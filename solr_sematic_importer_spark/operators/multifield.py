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

Spark-first shape (mirrors build.py's single-field plan):

* ONE fused Python stage analyzes ALL fields per input row (docid stamp +
  per-field tokenize + per-field tf fold) — token occurrences never
  shuffle, and adding a field adds zero extra Python round-trips;
* per-field postings are a UNION of narrow explodes over the cached
  analyzed output, with ``field`` a literal column — the scan predicate
  ``field IN (...) AND term IN (...)`` pushes to parquet when persisted;
* query-time: the per-(field,term) weight table (boost_f * idf_f) is tiny
  and broadcast; per-posting partials are whole-stage-codegen expressions
  (avgdl_f folded into a broadcast per-field constant); the per-doc
  combine folds a SORTED (field,term) array so float order is fixed and
  results are bit-identical across parallelism levels;
* top-k is orderBy(score desc, doc_id asc).limit(k) ->
  TakeOrderedAndProject (per-partition heaps + driver k-way merge).

At 100 TB this is the same plan as the single-field engine — one shuffle
at build (if blocks are packed), broadcast-join scoring at query — with
the posting key widened by a low-cardinality ``field`` column that
partition-prunes when the postings are written partitioned by field.
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass, field as dc_field
from typing import Iterator, Mapping, Sequence

from pyspark.sql import DataFrame, functions as F

from ..functions.queryparser import QueryParseError, parse_query
from ..functions.similarity import B_DEFAULT, K1_DEFAULT, idf
from .boolean_query import DROPPED_CLAUSE, _Evaluator
from .build import CACHE_LEVEL, quantize_dl_col
from .score import analyze_query, bm25_partial, sorted_fold, wildcard_to_regex


@dataclass
class MultiFieldIndex:
    """Per-field inverted indexes over one document set, one handle."""

    doc_stats: DataFrame     # doc_id, <key cols...>, dl_<f>, dl_quant_<f> per field
    postings: DataFrame      # field, term, doc_id, tf, dl, dl_quant
    term_stats: DataFrame    # field, term, df, ttf
    field_stats: dict        # field -> {"n_docs": int, "sum_dl": int}
    fields: tuple
    n_docs: int              # total documents (any field)
    profile: str
    key_cols: Sequence[str] = dc_field(default_factory=tuple)
    _caches: list = dc_field(default_factory=list, repr=False, compare=False)

    def avgdl(self, field: str) -> float:
        s = self.field_stats[field]
        return s["sum_dl"] / s["n_docs"] if s["n_docs"] else 0.0

    def release(self) -> None:
        for df in self._caches:
            try:
                df.unpersist()
            except Exception:
                pass
        self._caches.clear()


def field_term_dfs(
    index: MultiFieldIndex, fields: Sequence[str], terms: Sequence[str]
) -> dict:
    """Memoized per-(field, term) docfreq — the multi-field analog of
    ``build.term_dfs``. One term_stats job per handle fetches only unseen
    (field, term) pairs; a DisMax request whose clauses repeat tokens
    across fields (the common qf shape) pays the lookup once. Returns
    only pairs with df > 0 (matching the previous filter-collect shape)."""
    cache = getattr(index, "_df_cache", None)
    if cache is None:
        cache = index._df_cache = {}
    missing = [
        (f, t) for f in fields for t in terms if (f, t) not in cache
    ]
    if missing:
        found = {
            (r["field"], r["term"]): int(r["df"])
            for r in index.term_stats.filter(
                F.col("field").isin(sorted({f for f, _ in missing}))
                & F.col("term").isin(sorted({t for _, t in missing}))
            )
            .select("field", "term", "df")
            .collect()
        }
        for pair in missing:
            cache[pair] = found.get(pair, 0)
    return {
        (f, t): cache[(f, t)]
        for f in fields for t in terms
        if cache[(f, t)] > 0
    }


def build_multifield_index(
    df: DataFrame,
    fields: Sequence[str] = ("title", "body"),
    key_cols: Sequence[str] = (),
    profile: str = "simple",
    doc_id_col: str | None = None,
) -> MultiFieldIndex:
    """Analyze every field in one fused Python stage and derive per-field
    postings/stats from the single cached output."""
    import numpy as np
    import pandas as pd

    from ..functions.analyzer import tf_series

    fields = tuple(fields)
    key_cols = [c for c in key_cols if c != doc_id_col]
    key_fields = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    out_schema = ", ".join(
        ["doc_id long"]
        + [f"{c} {key_fields[c]}" for c in key_cols]
        + [
            f"terms_{f} array<string>, tfs_{f} array<int>, dl_{f} long"
            for f in fields
        ]
    )

    if doc_id_col is None:
        # dense stable ids by key order, fused like _stamp_and_analyze
        spark = df.sparkSession
        order_cols = key_cols if key_cols else list(fields)
        nparts = max(2 * spark.sparkContext.defaultParallelism, 2)
        ordered = (
            df.repartitionByRange(nparts, *order_cols)
            .sortWithinPartitions(*order_cols)
            .withColumn("_pid", F.spark_partition_id())
        )
        ordered.persist(CACHE_LEVEL)
        counts = dict(
            (r["_pid"], r["cnt"])
            for r in ordered.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()
        )
        offsets, acc = {}, 0
        for pid in range(max(counts) + 1 if counts else 0):
            offsets[pid] = acc
            acc += counts.get(pid, 0)

        def stamp_analyze(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            local = 0
            for b in batches:
                if not len(b):
                    continue
                off = offsets[int(b["_pid"].iloc[0])]
                out = {
                    "doc_id": np.arange(
                        off + local, off + local + len(b), dtype=np.int64
                    )
                }
                local += len(b)
                for c in key_cols:
                    out[c] = b[c]
                for f in fields:
                    out[f"terms_{f}"], out[f"tfs_{f}"], out[f"dl_{f}"] = tf_series(
                        b[f], profile
                    )
                yield pd.DataFrame(out)

        analyzed = ordered.mapInPandas(stamp_analyze, schema=out_schema)
        src = ordered
    else:

        def analyze(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for b in batches:
                if not len(b):
                    continue
                out = {"doc_id": b[doc_id_col].astype("int64")}
                for c in key_cols:
                    out[c] = b[c]
                for f in fields:
                    out[f"terms_{f}"], out[f"tfs_{f}"], out[f"dl_{f}"] = tf_series(
                        b[f], profile
                    )
                yield pd.DataFrame(out)

        analyzed = df.select(
            *dict.fromkeys([doc_id_col, *key_cols, *fields])
        ).mapInPandas(analyze, schema=out_schema)
        src = None

    for f in fields:
        analyzed = analyzed.withColumn(
            f"dl_quant_{f}", quantize_dl_col(F.col(f"dl_{f}"))
        )
    analyzed.persist(CACHE_LEVEL)

    doc_stats = analyzed.drop(*[c for f in fields for c in (f"terms_{f}", f"tfs_{f}")])

    # per-field postings: a union of NARROW explodes over the cache (tf was
    # folded per doc per field inside the Python stage — no shuffle here)
    per_field = []
    for f in fields:
        per_field.append(
            analyzed.select(
                "doc_id",
                F.col(f"dl_{f}").alias("dl"),
                F.col(f"dl_quant_{f}").alias("dl_quant"),
                F.explode(F.arrays_zip(f"terms_{f}", f"tfs_{f}")).alias("p"),
            ).select(
                F.lit(f).alias("field"),
                F.col(f"p.terms_{f}").alias("term"),
                "doc_id",
                F.col(f"p.tfs_{f}").cast("long").alias("tf"),
                "dl",
                "dl_quant",
            )
        )
    postings = per_field[0]
    for other in per_field[1:]:
        postings = postings.unionByName(other)
    postings.persist(CACHE_LEVEL)

    term_stats = postings.groupBy("field", "term").agg(
        F.count("*").alias("df"), F.sum("tf").alias("ttf")
    )
    term_stats.persist()

    # Lucene per-field stats: docCount_f counts docs with >=1 term IN THAT
    # FIELD; avgdl_f = sumTotalTermFreq_f / docCount_f
    agg_exprs = []
    for f in fields:
        agg_exprs.append(
            F.sum((F.col(f"dl_{f}") > 0).cast("long")).alias(f"n_{f}")
        )
        agg_exprs.append(F.coalesce(F.sum(f"dl_{f}"), F.lit(0)).alias(f"s_{f}"))
    stats = analyzed.agg(F.count("*").alias("n_total"), *agg_exprs).first()
    if src is not None:
        src.unpersist()

    return MultiFieldIndex(
        doc_stats=doc_stats,
        postings=postings,
        term_stats=term_stats,
        field_stats={
            f: {"n_docs": int(stats[f"n_{f}"]), "sum_dl": int(stats[f"s_{f}"])}
            for f in fields
        },
        fields=fields,
        n_docs=int(stats["n_total"]),
        profile=profile,
        key_cols=tuple(key_cols),
        _caches=[analyzed, postings, term_stats],
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
    over the weighted fields, with ``w = boost * boost_f * mult * idf_f``
    and the field's avgdl riding the broadcast weight table so the norm
    stays a JVM expression. None when no (field, term) pair is indexed."""
    counts = Counter(terms)
    dfs = field_term_dfs(index, list(field_weights), list(counts))
    weights = [
        (
            f,
            t,
            boost
            * field_weights[f]
            * float(mult)
            * idf(dfs[(f, t)], index.field_stats[f]["n_docs"]),
            index.avgdl(f),
        )
        for t, mult in counts.items()
        for f in field_weights
        if (f, t) in dfs
    ]
    if not weights:
        return None
    wdf = index.postings.sparkSession.createDataFrame(
        weights, "field string, term string, w double, avgdl double"
    )
    dl_col = "dl_quant" if quantize else "dl"
    cand = index.postings.filter(
        F.col("field").isin(list(field_weights))
        & F.col("term").isin([t for _, t, _, _ in weights])
    )
    return cand.join(F.broadcast(wdf), ["field", "term"]).select(
        "doc_id",
        "field",
        "term",
        bm25_partial(F.col("w"), F.col("tf"), dl_col, F.col("avgdl"), k1, b).alias("s"),
    )


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
    spark = index.postings.sparkSession
    empty = spark.createDataFrame([], "doc_id long, score double")
    boosts = {f: float(w) for f, w in qf.items() if f in index.fields}
    if not boosts or index.n_docs == 0:
        return empty
    if combine == "sum":
        per_doc = _field_term_leaf(index, boosts, query, 1.0, k1, b, quantize)
        if per_doc is None or per_doc is DROPPED_CLAUSE:
            return empty
        per_doc = per_doc.withColumnRenamed("s", "score")
    else:
        scored = _field_partials(
            index, boosts, analyze_query(query, index.profile), 1.0, k1, b, quantize
        )
        if scored is None:
            return empty
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

    return (
        per_doc.orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
        .select("doc_id", "score")
    )


class _FieldEvaluator(_Evaluator):
    """The boolean combine's leaves on a multi-field index: a term becomes
    a per-field BM25 leaf (its own field, or ``qf`` when unqualified); a
    prefix or wildcard becomes a constant-score leaf over the field's
    term dictionary."""

    def __init__(self, index, boosts, k1, b, quantize):
        super().__init__(index, k1, b, quantize)
        self.boosts = boosts

    def _field_vocab_scores(self, field: str, term_pred, boost: float) -> DataFrame:
        vocab = self.index.term_stats.filter(
            (F.col("field") == field) & term_pred
        ).select("field", "term")
        docs = (
            self.index.postings.join(F.broadcast(vocab), ["field", "term"], "left_semi")
            .select("doc_id")
            .distinct()
        )
        return docs.withColumn("s", F.lit(float(boost)))

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
            return self._field_vocab_scores(c.field, F.col("term").startswith(c.text), c.boost)
        if c.kind == "wildcard":
            return self._field_vocab_scores(
                c.field, F.col("term").rlike(wildcard_to_regex(c.text)), c.boost
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

    Scale shape: every leaf pushes ``field IN (...) AND term IN (...)``
    into the postings scan; the combine is one union + hash agg on doc_id
    plus one anti-join per prohibited clause.
    """
    boosts = (
        {f: float(w) for f, w in qf.items() if f in index.fields}
        if qf is not None
        else {f: 1.0 for f in index.fields}
    )
    clauses = parse_query(q, fields=index.fields)
    return _FieldEvaluator(index, boosts, k1, b, quantize).topk(clauses, k)
