"""BM25 top-k query execution (SURVEY §3.3 lifecycle).

The reference delegates this entirely to Solr's ``/select`` handler
(``semantic_base_config.zip -> solrconfig.xml:650-655`` rows=10,
:667-670 df=_text_ OR semantics); we re-implement it Spark-first:

* query analysis runs the SAME analyzer chain as indexing (driver-local,
  pure function — no Spark job);
* per-term idf from exact docfreq; duplicate query terms keep their
  multiplicity (Lucene builds one SHOULD TermQuery per token, so a repeated
  token contributes twice);
* every BM25 term leaf is ``term_leaf`` (Lucene's one TermWeight/
  TermScorer): the blocks are filtered to the query's terms with ``isin``,
  so Catalyst pushes the predicate into the parquet/Iceberg scan (SURVEY
  §2.3 J2), and decode in ONE Python stage sized by the terms' df sum
  (no shuffle); the exact dl is joined only for ``quantize=False``;
* per-posting score is computed with built-in JVM expressions (whole-stage
  codegen), each term's weight read from a literal map — a broadcast
  weight table would cost one Spark job per leaf;
* per-doc summation folds a SORTED array of (term, partial) pairs so the
  float accumulation order is fixed — scores are bit-identical across
  parallelism levels (SURVEY §7.3 risk 7);
* top-k = ``orderBy(score desc, doc_id asc).limit(k)`` which Spark plans as
  ``TakeOrderedAndProject``: per-partition heap + driver k-way merge —
  exactly the distributed top-k the reference gets from Lucene, with the
  docID-asc tie-break mandated for rank identity.
"""

from __future__ import annotations

from collections import Counter
from functools import reduce
from itertools import count
from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame, functions as F

from ..functions.analyzer import PROFILES
from ..functions.similarity import B_DEFAULT, K1_DEFAULT, idf
from .build import InvertedIndex, term_dfs


PAGE_SCHEMA = "doc_id long, score double"


def analyze_query(query: str, profile: str) -> list[str]:
    return PROFILES[profile](query)


def top_page(index, per_doc: "DataFrame | None", k: int) -> DataFrame:
    """The tail every top-k scorer ends with: ``per_doc`` (doc_id, score)
    with the index's deleted docs masked, cut to the k best by (score
    desc, doc_id asc) — TakeOrderedAndProject. None gives the empty
    page."""
    if per_doc is None:
        return index.doc_stats.sparkSession.createDataFrame([], PAGE_SCHEMA)
    deletes = getattr(index, "deletes", None)
    if deletes is not None:
        per_doc = per_doc.join(deletes.select("doc_id"), "doc_id", "left_anti")
    return (
        per_doc.orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
        .select("doc_id", "score")
    )


def _literal_map(m: Mapping) -> Column:
    """``m`` as a map literal, so a per-term value is an expression
    lookup; a broadcast table would cost one Spark job per request."""
    return F.create_map(*[F.lit(x) for kv in m.items() for x in kv])


_PERSISTS = count()


def persist_private(df: DataFrame) -> DataFrame:
    """``df`` persisted under a plan no other request shares. Literal
    weights make identical requests plan identically, and Spark's cache
    manager keeps one entry per plan result, so one request's
    ``unpersist`` would drop the entry another still reads; a
    request-unique literal in the plan keeps the entries apart."""
    return df.filter(F.lit(next(_PERSISTS)) >= 0).persist()


def term_leaf(
    fields: "Mapping[str | None, tuple[InvertedIndex, Mapping[str, float]]]",
    k1: float,
    b: float,
    quantize: bool,
) -> "DataFrame | None":
    """The BM25 term leaf every exhaustive scorer runs (Lucene's
    TermWeight/TermScorer): (doc_id, [field,] term, tf, dl, s) per posting
    of the query's terms, ``s = bm25_partial(w, tf, dl, avgdl)``; dl is
    ``dl_quant``, or the exact ``dl`` from doc_stats for ``quantize=False``.
    ``fields`` maps each field to its index and its terms' weights ``w``
    (df > 0 only); a single-field index is the one key ``None`` (no
    ``field`` column). All fields decode in ONE Python stage sized by the
    terms' df sum, with no shuffle; ``w`` and the per-field avgdl are
    literal maps. None when no term is given."""
    from .block_postings import decode_blocks_to_flat

    keys = ("term",) if None in fields else ("field", "term")
    blocks, dls, weights, avgdls, n = [], [], {}, {}, 0
    for f, (index, tw) in fields.items():
        if not tw:
            continue
        n += sum(term_dfs(index, list(tw)).values())
        scan = index.postings_blocks.filter(F.col("term").isin(list(tw)))
        dl = index.doc_stats.select("doc_id", "dl")
        if f is not None:
            tag = F.lit(f).alias("field")
            scan, dl = scan.select(tag, "*"), dl.select("doc_id", tag, "dl")
        blocks.append(scan)
        dls.append(dl)
        weights.update(tw if f is None else {f"{f}\x00{t}": w for t, w in tw.items()})
        avgdls[f] = index.avgdl
    if not blocks:
        return None
    cand = decode_blocks_to_flat(reduce(DataFrame.unionByName, blocks), keys, n)
    dl_col = "dl_quant" if quantize else "dl"
    if not quantize:
        cand = cand.join(reduce(DataFrame.unionByName, dls), ["doc_id", *keys[:-1]])
    if None in fields:
        w, avgdl = _literal_map(weights)[F.col("term")], avgdls[None]
    else:
        w = _literal_map(weights)[F.concat_ws("\x00", "field", "term")]
        avgdl = _literal_map(avgdls)[F.col("field")]
    return cand.select(
        "doc_id", *keys, "tf", dl_col,
        bm25_partial(w, F.col("tf"), dl_col, avgdl, k1, b).alias("s"),
    )


def bm25_partial(
    w: Column, tf: Column, dl_col: str, avgdl: "float | Column", k1: float, b: float
) -> Column:
    """The per-posting BM25 partial ``w*tf / (tf + k1*((1-b) + b*dl/avgdl))``
    as a JVM expression — the one spelling every Spark-column scorer uses.
    Its association is part of the contract: it keeps exhaustive, WAND
    and ``/select`` scores bit-identical. ``avgdl`` is a literal
    (single-field index) or a Column (per-field avgdl, multi-field)."""
    if not isinstance(avgdl, Column):
        avgdl = F.lit(avgdl)
    return w * tf / (tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col(dl_col) / avgdl))


def sorted_fold(*keys: str, value: str = "s") -> Column:
    """Deterministic sum aggregate: fold the ``keys``-sorted array of
    (keys..., value) structs, so the float accumulation order is fixed and
    scores are bit-identical across parallelism levels (SURVEY §7.3
    risk 7)."""
    return F.aggregate(
        F.array_sort(F.collect_list(F.struct(*keys, value))),
        F.lit(0.0),
        lambda acc, x: acc + x[value],
    )


def calculate_min_should_match(spec: "int | str", n_optional: int) -> int:
    """Solr's ``mm`` spec -> required optional-clause count — the FULL
    SolrPluginUtils.calculateMinShouldMatch grammar the edismax ``mm=``
    request param accepts:

    * positive int ``n``   -> n required
    * negative int ``-n``  -> all but n required
    * ``"P%"``             -> floor(n_optional * P / 100) required
    * ``"-P%"``            -> n_optional - floor(n_optional * P / 100)
    * conditional specs ``"N<spec"``, space-separated and evaluated in
      the given order (Solr documents them ascending-N): with C optional
      clauses, the FIRST pair whose N >= C stops the walk and yields the
      result accumulated so far (ALL clauses required when the first
      pair already stops it); each pair whose N < C re-evaluates its
      sub-spec. E.g. ``"2<-25% 9<-3"``: C<=2 -> all required; 3..9 ->
      all-but-25%; >9 -> all-but-3.

    Results are clamped to ``[0, n_optional]``; 0 means no constraint
    (plain OR)."""
    import re as _re

    spec_s = str(spec).strip()
    if "<" in spec_s:
        # normalize optional whitespace around '<' exactly like Solr's
        # spaceAroundLessThanPattern, then walk pairs in order
        spec_s = _re.sub(r"\s*<\s*", "<", spec_s)
        result = n_optional  # default: all optional clauses required
        for part in spec_s.split():
            upper_s, sep, sub = part.partition("<")
            if not sep or not sub:
                raise ValueError(f"invalid conditional mm spec segment {part!r}")
            if n_optional <= int(upper_s):
                break
            result = calculate_min_should_match(sub, n_optional)
        return max(0, min(result, n_optional))
    if spec_s.endswith("%"):
        pct = int(spec_s[:-1])
        calc = (abs(pct) * n_optional) // 100
        required = calc if pct >= 0 else n_optional - calc
    else:
        val = int(spec_s)
        required = val if val >= 0 else n_optional + val
    return max(0, min(required, n_optional))


def bm25_topk(
    index: InvertedIndex,
    query: str,
    k: int = 10,
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
    quantize: bool = True,
    extra_filter=None,
    offset: int = 0,
    exclude: str | None = None,
    min_match: "int | str | None" = None,
) -> DataFrame:
    """Top-k (doc keys, score) for an OR-semantics BM25 query.

    ``extra_filter``: optional Column predicate over doc_stats columns —
    the reference's ``fq`` filter-query semantics
    (``HttpSolrSelectClientImpl.java:113-115``), applied pre-scoring.
    ``offset``: pagination ``start`` (SURVEY §2.6 T3,
    ``HttpSolrSelectClientImpl.java:111``) — computes top-(offset+k) and
    slices, exactly Solr's deep-paging cost model.
    ``exclude``: prohibited terms (Lucene ``-term`` MUST_NOT): documents
    containing ANY of them are dropped pre-ranking via an anti-join on
    their postings.
    """
    spark = index.doc_stats.sparkSession
    key_cols = [c for c in index.key_cols]
    empty = spark.createDataFrame(
        [],
        index.doc_stats.select("doc_id", *[c for c in key_cols if c != "doc_id"])
        .withColumn("score", F.lit(0.0))
        .schema,
    )
    per_doc = score_or_docs(
        index, query, k1=k1, b=b, quantize=quantize,
        extra_filter=extra_filter, exclude=exclude, min_match=min_match,
    )
    if per_doc is None:
        return empty

    top = (
        per_doc.orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(offset + k)
    )
    if offset:
        rows = top.collect()[offset : offset + k]
        top = spark.createDataFrame(rows, top.schema) if rows else spark.createDataFrame([], top.schema)

    lookup_cols = [c for c in key_cols if c != "doc_id"]
    if lookup_cols:
        out = F.broadcast(top).join(
            index.doc_stats.select("doc_id", *lookup_cols), "doc_id"
        ).select("doc_id", *lookup_cols, "score")
        # re-assert ordering after the lookup join
        return out.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return top.select("doc_id", "score")


def score_or_docs(
    index: InvertedIndex,
    query: str,
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
    quantize: bool = True,
    extra_filter=None,
    exclude: str | None = None,
    raw_terms: Sequence[str] | None = None,
    min_match: "int | str | None" = None,
) -> DataFrame | None:
    """The shared OR-semantics scoring stage: every matching doc with its
    full BM25 score (no top-k cut). None when the query matches nothing.
    ``bm25_topk`` adds TakeOrdered on top; ``select`` composes every other
    request stage over it. ``raw_terms`` bypasses query analysis for
    callers whose terms are ALREADY analyzed (more-like-this feeds index
    terms back in; re-analysis would double-stem them).

    ``min_match``: Solr/edismax ``mm`` — a doc must satisfy at least
    N of the query's optional clauses (duplicate tokens are separate
    clauses, exactly Lucene BooleanQuery.setMinimumNumberShouldMatch
    over one SHOULD TermQuery per token). The clause count rides the
    same per-doc fold (sum of matched-term multiplicities), so mm adds
    zero extra shuffles."""
    terms = list(raw_terms) if raw_terms is not None else analyze_query(query, index.profile)
    if not terms or index.n_docs == 0:
        return None

    counts = Counter(terms)
    dfs = term_dfs(index, list(counts))
    mult = {t: m for t, m in counts.items() if dfs[t] > 0}
    if not mult:
        return None
    required = (
        calculate_min_should_match(min_match, len(terms))
        if min_match is not None
        else 0
    )

    scored = term_leaf(
        {None: (index, {t: float(m) * idf(dfs[t], index.n_docs) for t, m in mult.items()})},
        k1, b, quantize,
    )
    per_doc = scored.groupBy("doc_id").agg(
        sorted_fold("term").alias("score"),
        F.sum(_literal_map(mult)[F.col("term")]).alias("_nclauses"),
    )
    if required > 0:
        per_doc = per_doc.filter(F.col("_nclauses") >= required)
    per_doc = per_doc.drop("_nclauses")

    if extra_filter is not None:
        allowed = index.doc_stats.filter(extra_filter).select("doc_id")
        per_doc = per_doc.join(allowed, "doc_id", "left_semi")

    if exclude:
        neg_terms = analyze_query(exclude, index.profile)
        if neg_terms:
            banned = index.flat_terms(neg_terms).select("doc_id")
            per_doc = per_doc.join(banned, "doc_id", "left_anti")

    if index.deletes is not None:
        per_doc = per_doc.join(index.deletes.select("doc_id"), "doc_id", "left_anti")

    return per_doc


def bm25_topk_synonyms(
    index: InvertedIndex,
    query: str,
    synonyms: dict[str, list[str]] | None = None,
    k: int = 10,
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
    quantize: bool = True,
) -> DataFrame:
    """OR-semantics BM25 with query-time synonym groups, scored with
    Lucene ``SynonymQuery`` semantics: each original token position
    becomes one pseudo-term whose ``df = max(df of members)`` and per-doc
    ``tf = sum(tf of members)``. Returns (doc_id, score).

    ``synonyms=None`` loads the shipped configset's synonyms.txt rules
    (``semantic_base_config.zip -> synonyms.txt`` via
    ``functions.synonyms.default_synonyms``) — the default Solr query
    chain, ``managed-schema.xml:311``."""
    from ..functions.analyzer import analyze_text_general
    from ..functions.synonyms import default_synonyms, expand_terms

    if synonyms is None:
        synonyms = default_synonyms()
    # Solr applies synonymGraph BEFORE stemming and the outputs continue
    # through the rest of the chain. Matching rules against STEMMED
    # tokens would never fire under text_en ('television' analyzes to
    # 'televis', which no surface-form rule key equals), and surface-form
    # members would look up df=0 in the stemmed dictionary — so: match on
    # tokenize+lowercase (pre-stem) tokens, then re-analyze every member
    # through the index profile.
    raw_terms = analyze_text_general(query)
    if not raw_terms or index.n_docs == 0:
        return top_page(index, None, k)

    groups = []
    for g in expand_terms(raw_terms, synonyms):
        flat: list[str] = []
        for m in g:
            for t in analyze_query(m, index.profile):
                if t not in flat:
                    flat.append(t)
        if flat:  # a group can analyze away entirely (lone stopword)
            groups.append(flat)
    if not groups:
        return top_page(index, None, k)
    dfs = term_dfs(index, sorted({m for g in groups for m in g}))
    # one weight per original token position; duplicate positions keep
    # multiplicity (Lucene builds one SHOULD clause per position), so a
    # member maps to every group it is in
    gids: dict[str, list[int]] = {}
    weights: list[float] = []
    for g in groups:
        present = [m for m in g if dfs[m] > 0]
        if not present:
            continue
        for m in present:
            gids.setdefault(m, []).append(len(weights))
        weights.append(idf(max(dfs[m] for m in present), index.n_docs))
    if not weights:
        return top_page(index, None, k)

    dl_col = "dl_quant" if quantize else "dl"
    cand = term_leaf(
        {None: (index, {m: weights[g[0]] for m, g in gids.items()})}, k1, b, quantize
    )
    # per (doc, group): tf summed across members, THEN the BM25 saturation
    # (the leaf's per-member s is unused)
    gid = F.explode(_literal_map(gids)[F.col("term")]).alias("gid")
    per_group = (
        cand.select("doc_id", gid, "tf", dl_col)
        .groupBy("doc_id", "gid", dl_col)
        .agg(F.sum("tf").alias("tf_sum"))
        .select(
            "doc_id",
            "gid",
            bm25_partial(
                _literal_map(dict(enumerate(weights)))[F.col("gid")],
                F.col("tf_sum"), dl_col, index.avgdl, k1, b,
            ).alias("s"),
        )
    )
    return top_page(
        index, per_group.groupBy("doc_id").agg(sorted_fold("gid").alias("score")), k
    )


def spellcheck_terms(
    index: InvertedIndex,
    word: str,
    max_distance: int = 2,
    limit: int = 5,
) -> DataFrame:
    """Solr spellcheck component ("did you mean"): vocabulary terms within
    ``max_distance`` Levenshtein edits of the (analyzed) input, most
    frequent first — JVM ``levenshtein`` over the vocab-sized term_stats
    table with a length-window pre-filter so the distance function runs on
    a sliver of the dictionary. Returns (term, df, distance)."""
    analyzed = analyze_query(word, index.profile)
    target = analyzed[0] if analyzed else word.lower()
    n = len(target)
    cand = index.term_stats.filter(
        (F.length("term") >= n - max_distance)
        & (F.length("term") <= n + max_distance)
    )
    return (
        cand.select(
            "term", "df", F.levenshtein(F.col("term"), F.lit(target)).alias("distance")
        )
        .filter(F.col("distance") <= max_distance)
        .orderBy(F.col("distance").asc(), F.col("df").desc(), F.col("term").asc())
        .limit(limit)
    )


def fuzzy_expand_terms(
    index: InvertedIndex,
    word: str,
    distance: int = 2,
    max_expansions: int = 50,
) -> list[tuple[str, int, float]]:
    """Lucene FuzzyQuery term expansion: vocabulary terms within
    ``distance`` Levenshtein edits of the (lowercased) input — the same
    length-window pre-filter as ``spellcheck_terms`` so the JVM
    ``levenshtein`` runs on a sliver of the dictionary.

    Each member carries Lucene FuzzyTermsEnum's edit-distance similarity
    boost ``1 - d / min(len(member), len(target))`` (an exact match
    boosts 1.0; a maximally-edited short term can boost to 0), and the
    expansion set is capped at ``max_expansions`` (Lucene's default 50)
    keeping the best members by (boost desc, df desc, term asc) —
    Lucene's TopTermsBlendedFreqScoringRewrite queue ranks by boost; we
    break boost ties by docfreq (highest-df members are the ones a
    blended rewrite wants statistics from) rather than term order, a
    documented divergence. Classic Levenshtein, not Damerau (Lucene
    defaults transpositions=true) — documented divergence shared with
    the SQL oracle. Returns [(term, df, boost)]."""
    if not word:
        # the boost divides by the target's length
        raise ValueError(f"fuzzy query needs a non-empty term, got {word!r}")
    target = word.lower()
    n = len(target)
    cand = index.term_stats.filter(
        (F.length("term") >= n - distance) & (F.length("term") <= n + distance)
    )
    rows = (
        cand.select(
            "term", "df",
            F.levenshtein(F.col("term"), F.lit(target)).alias("d"),
        )
        .filter(F.col("d") <= distance)
        .collect()
    )
    members = [
        (
            r["term"],
            int(r["df"]),
            1.0 - int(r["d"]) / min(len(r["term"]), n),
        )
        for r in rows
    ]
    members.sort(key=lambda m: (-m[2], -m[1], m[0]))
    return members[:max_expansions]


def fuzzy_scores(
    index: InvertedIndex,
    word: str,
    distance: int,
    boost: float,
    k1: float,
    b: float,
    quantize: bool,
    max_expansions: int = 50,
) -> "DataFrame | None":
    """The FuzzyQuery leaf shared by ``bm25_fuzzy_topk`` and the boolean
    engine's ``term~N`` clause: (doc_id, s) with
    ``s = Σ_members boost_m * (boost * idf(df_max)) * sat(tf_m)``, folded
    in term order. None when the expansion set is empty."""
    members = fuzzy_expand_terms(index, word, distance, max_expansions)
    if not members or index.n_docs == 0:
        return None
    w = boost * idf(max(df for _, df, _ in members), index.n_docs)
    scored = term_leaf({None: (index, {t: bst * w for t, _, bst in members})}, k1, b, quantize)
    return scored.groupBy("doc_id").agg(sorted_fold("term").alias("s"))


def bm25_fuzzy_topk(
    index: InvertedIndex,
    word: str,
    distance: int = 2,
    k: int = 10,
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
    quantize: bool = True,
    max_expansions: int = 50,
) -> DataFrame:
    """FuzzyQuery (``term~N``) under Lucene's blended-freq top-terms
    rewrite: the capped expansion set becomes SHOULD TermQueries whose
    docfreq is BLENDED to the max over members (one shared idf), each
    boosted by its edit-distance similarity —
    ``score(doc) = Σ_members boost_m * idf(df_max) * sat(tf_m)``.
    Returns (doc_id, score)."""
    scored = fuzzy_scores(index, word, distance, 1.0, k1, b, quantize, max_expansions)
    return top_page(
        index, None if scored is None else scored.withColumnRenamed("s", "score"), k
    )


def wildcard_to_regex(pattern: str) -> str:
    """Lucene wildcard syntax -> anchored Java/RE2-safe regex:
    ``*`` = any run, ``?`` = one char, everything else literal."""
    import re as _re

    out = []
    for ch in pattern:
        if ch == "*":
            out.append(".*")
        elif ch == "?":
            out.append(".")
        else:
            out.append(_re.escape(ch))
    return "^" + "".join(out) + "$"


def constant_scores(index: InvertedIndex, term_pred, boost: float = 1.0) -> DataFrame:
    """The MultiTermQuery CONSTANT_SCORE rewrite shared by prefix, wildcard
    and range clauses: every doc holding any vocab term that matches
    ``term_pred`` scores ``boost``. The expansion — the matching slice of
    the vocab-sized term_stats table — is collected with its df, so the
    decode reads only those terms and is sized by their posting count.
    Returns (doc_id, s)."""
    dfs = {
        r["term"]: int(r["df"])
        for r in index.term_stats.filter(term_pred).select("term", "df").collect()
    }
    docs = index.flat_terms(list(dfs), sum(dfs.values())).select("doc_id").distinct()
    return docs.withColumn("s", F.lit(float(boost)))


def _constant_topk(index: InvertedIndex, term_pred, k: int) -> DataFrame:
    """Top-k of a constant-score clause: every score ties, so the page is
    the docID-asc tie-break. Returns (doc_id, score)."""
    return top_page(
        index, constant_scores(index, term_pred).withColumnRenamed("s", "score"), k
    )


def wildcard_query_topk(
    index: InvertedIndex,
    pattern: str,
    k: int = 10,
) -> DataFrame:
    """Lucene WildcardQuery (``te?t``, ``t*st``) under Solr's default
    MultiTermQuery CONSTANT_SCORE rewrite: regex-on-vocab expansion
    (``rlike`` over the vocab-sized term_stats table). Every matching doc
    scores 1.0; docID-asc tie-break. Returns (doc_id, score)."""
    if not pattern:
        return top_page(index, None, k)
    return _constant_topk(
        index, F.col("term").rlike(wildcard_to_regex(pattern.lower())), k
    )


def terms_component(
    index: InvertedIndex,
    prefix: str = "",
    limit: int = 10,
    min_df: int = 1,
) -> DataFrame:
    """Solr ``/terms`` handler (terms.prefix / terms.limit / terms.mincount):
    vocabulary terms matching a prefix, highest df first (term asc
    tie-break) — the autocomplete/suggest primitive. One pushed
    StartsWith filter over the vocab-sized term_stats table + TakeOrdered."""
    out = index.term_stats.select("term", "df")
    if prefix:
        out = out.filter(F.col("term").startswith(prefix))
    return (
        out.filter(F.col("df") >= min_df)
        .orderBy(F.col("df").desc(), F.col("term").asc())
        .limit(limit)
    )


def prefix_query_topk(
    index: InvertedIndex,
    prefix: str,
    k: int = 10,
) -> DataFrame:
    """Lucene PrefixQuery (``q=merg*``) under Solr's default
    MultiTermQuery CONSTANT_SCORE rewrite: every doc containing any term
    with the prefix scores 1.0; ordering is the docID-asc tie-break.
    Returns (doc_id, score). StartsWith pushes to both scans."""
    if not prefix:
        return top_page(index, None, k)
    return _constant_topk(index, F.col("term").startswith(prefix), k)


def score_partials(
    index: InvertedIndex,
    query: str,
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
    quantize: bool = True,
) -> "DataFrame | None":
    """Per-(doc, term) BM25 score components for every doc matching any
    query term — (doc_id, term, tf, df, idf, partial) with
    ``sum(partial) over doc = score``. The shared leaf table behind
    ``explain_topk`` and ``select(debug=True)``: callers semi-join their
    own (request-sized) doc set. None when no query term is indexed."""
    terms = analyze_query(query, index.profile)
    if not terms or index.n_docs == 0:
        return None
    counts = Counter(terms)
    dfs = {t: d for t, d in term_dfs(index, list(counts)).items() if d > 0}
    if not dfs:
        return None
    idfs = {t: idf(d, index.n_docs) for t, d in dfs.items()}
    scored = term_leaf(
        {None: (index, {t: float(counts[t]) * idfs[t] for t in dfs})}, k1, b, quantize
    )
    return scored.select(
        "doc_id",
        "term",
        F.col("tf").cast("long").alias("tf"),
        _literal_map(dfs)[F.col("term")].cast("long").alias("df"),
        _literal_map(idfs)[F.col("term")].alias("idf"),
        F.col("s").alias("partial"),
    )


def explain_topk(
    index: InvertedIndex,
    query: str,
    k: int = 10,
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
    quantize: bool = True,
) -> DataFrame:
    """Solr ``debugQuery=true`` explain: the per-term score breakdown for
    the query's top-k docs — (doc_id, term, tf, df, idf, partial) where
    ``sum(partial) over doc = score``. Mirrors Lucene's Explanation tree
    flattened to one row per (doc, term) leaf.

    Plan: the usual scoring stage keeps its per-(doc,term) partials
    alive; the top-k doc set (TakeOrdered, request-sized) semi-joins the
    partials, so explain costs one extra broadcast join over the already-
    scored rows, not a rescore."""
    spark = index.doc_stats.sparkSession
    partials = score_partials(index, query, k1=k1, b=b, quantize=quantize)
    if partials is None:
        return spark.createDataFrame(
            [], "doc_id long, term string, tf long, df long, idf double, partial double"
        )
    # Derive the top-k FROM the partials (one scoring pass, not a second
    # bm25_topk rescore): the term-sorted fold below is the identical
    # accumulation score_or_docs performs — partial == its per-(doc,term)
    # s (w already carries the duplicate-token multiplicity) — so the
    # scores and tie-breaks are bit-identical to bm25_topk's.
    per_doc = partials.groupBy("doc_id").agg(
        sorted_fold("term", value="partial").alias("score")
    )
    top = top_page(index, per_doc, k).select("doc_id")
    return partials.join(F.broadcast(top), "doc_id", "left_semi")


def bm25_conjunction_topk(
    index: InvertedIndex,
    query: str,
    k: int = 10,
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
    quantize: bool = True,
) -> DataFrame:
    """AND semantics (SURVEY §2.7): docs matching ALL distinct query terms,
    scored the same way — union of postings + HAVING count = n_terms."""
    terms = sorted(set(analyze_query(query, index.profile)))
    if not terms:
        return top_page(index, None, k)
    dfs = term_dfs(index, terms)
    if any(dfs[t] == 0 for t in terms):  # a term with df=0 -> conjunction is empty
        return top_page(index, None, k)
    scored = term_leaf(
        {None: (index, {t: idf(dfs[t], index.n_docs) for t in terms})}, k1, b, quantize
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count("*").alias("nt"), sorted_fold("term").alias("score")
    )
    return top_page(index, per_doc.filter(F.col("nt") == len(terms)), k)
