"""The ``/select`` request executor — the engine's only composer.

The reference delegates every query to the destination collection's
``/select`` handler (``semantic_base_config.zip -> solrconfig.xml:650-680``:
``q`` with ``df=_text_`` OR semantics, ``fq``, ``sort``, ``start``/``rows``/
``cursorMark``, ``mm``, ``boost``, ``rq={!rerank}``, ``fq={!collapse}``,
``elevateIds``, ``facet.field``/``facet.range``/``facet.pivot``/
``json.facet``, ``debugQuery``). Solr runs them as one QParser, one query
tree and one collector chain; :func:`select` is that chain. Every request
stage after main-query scoring — boost, collapse (and result grouping,
which is collapse plus a column order), rerank, facets, elevation, field
sort, offset and cursor paging — is implemented HERE and nowhere else;
standalone callers issue a ``select`` call and reshape its page.

Stage order follows Solr's own execution:

1. main-query scoring (``score.score_or_docs``: OR semantics + ``mm``),
   ``fq`` predicate and prohibited terms applied pre-ranking. A page-only
   request — nothing but ``q``/``rows`` (plus ``hl``/``debug``, which
   attach to the page) over an index whose block impacts were encoded with
   the request's ``k1``/``b`` — is served by block-max WAND
   (``block_postings.bm25_topk_wand``) instead: the same page bit for
   bit, from one scoring job instead of an aggregate over every match.
   This is Lucene's rule: blocks are skipped only when the request needs
   no exact hit count;
2. ``boost=`` (edismax multiplicative) / ``bf=`` (additive) over stored
   fields — LEFT join, identity default for missing/null fields;
3. ``fq={!collapse field=X}``: one window per collapse key, survivors only.
   Collapse is an fq **PostFilter** in Solr, applied at collection time,
   so it shapes the match set BEFORE rerank sees it and facets count the
   collapsed set (CollapsingQParser semantics);
4. ``rq={!rerank}``: the top-``reRankDocs`` of the (collapsed) ranking get
   ``weight * score(rerankQuery)`` added, the tail keeps its first-pass
   score, everything re-sorts;
5. facets — ``facet.field`` counts, ``facet.range`` bucketed counts,
   ``facet.pivot`` nested counts, ``json.facet`` terms+stats — all over
   the FINAL match set (not the page), sharing ONE semi-joined
   stored-field frame so adding facet flavors adds no extra join;
6. elevation: pinned editorial head in configured order (``fq``/
   ``exclude`` still apply — elevation never resurrects a filtered doc,
   Solr QueryElevationComponent semantics), organic tail with DENSE ranks
   continuing exactly where the surviving pinned block ends;
7. sort (score desc/doc_id asc default, or a stored field) and paging
   (``start``/``rows`` offset or ``cursorMark`` keyset following the
   ACTIVE sort).

A query that matches nothing runs the same stages over an empty match
set, so every section keeps the matching path's schema and elevation
still pins its documents.

Spark shape (100 TB): the scoring agg's pushed ``In(term)`` scan filter,
one df-sized decode and literal-map weights (``score.term_leaf``),
boost/collapse joins on the already-reduced match set, a broadcastable
rerank head, and TakeOrderedAndProject for every top-k cut. Composing
adds no extra pass over postings.
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field
from typing import Sequence

from pyspark.sql import Column, DataFrame, functions as F

from ..functions.similarity import B_DEFAULT, K1_DEFAULT
from .block_postings import bm25_topk_wand
from .build import InvertedIndex
from .highlight import highlight as _highlight
from .score import analyze_query, persist_private, score_or_docs, score_partials


@dataclass
class SelectResponse:
    """The response sections of a ``/select`` request.

    When the request has more than one section reading the match set
    (page + facets and/or num_found), the scored match set is persisted
    for the life of the response so each section reuses ONE scoring pass
    instead of re-running postings scan + aggregation per collect
    (section batching, VERDICT r4 #6). Call :meth:`release` after
    consuming the sections — mirroring ``InvertedIndex.release()`` — or
    the cached match set stays pinned until the session ends."""

    docs: DataFrame                 # the page: doc_id, score (+ extras)
    facets: dict = dc_field(default_factory=dict)   # name -> facet DF
    num_found: "int | None" = None  # total match count (opt-in, extra job)
    highlighting: "DataFrame | None" = None  # hl section: doc_id, snippet
    explain: "DataFrame | None" = None       # debugQuery: per-term partials
    _cached: "DataFrame | None" = None       # persisted match set, if any

    def release(self) -> None:
        """Unpersist the shared match set (no-op for single-section
        requests, which never persist)."""
        if self._cached is not None:
            self._cached.unpersist()
            self._cached = None


def select(
    index: InvertedIndex,
    q: str,
    fq=None,
    exclude: "str | None" = None,
    mm: "int | str | None" = None,
    fields: "DataFrame | None" = None,
    boost: "Column | None" = None,
    boost_mode: str = "multiply",
    rerank_query: "str | None" = None,
    rerank_docs: int = 20,
    rerank_weight: float = 2.0,
    collapse_field: "str | None" = None,
    elevate_ids: "Sequence[int] | None" = None,
    facet_fields: Sequence[str] = (),
    facet_ranges: "dict[str, Column] | None" = None,
    facet_pivots: Sequence[Sequence[str]] = (),
    json_facet: "tuple[str, Sequence[tuple[str, object]]] | None" = None,
    sort_field: "str | None" = None,
    sort_ascending: bool = True,
    start: int = 0,
    rows: int = 10,
    cursor_mark: "tuple | None" = None,
    with_num_found: bool = False,
    hl_source: "DataFrame | None" = None,
    hl_frag_size: int = 100,
    hl_pre: str = "<em>",
    hl_post: str = "</em>",
    debug: bool = False,
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
    quantize: bool = True,
) -> SelectResponse:
    """Execute a combined ``/select`` request. Parameters mirror the
    handler's: ``q``/``mm``/``fq`` (a Column predicate over doc_stats)/
    ``exclude`` (prohibited terms) shape the match set; ``boost`` (a
    Column over ``fields``) reshapes scores; ``rerank_query`` re-scores
    the head; ``collapse_field``/facet params read ``fields``;
    ``elevate_ids`` pins the editorial head; ``sort_field``/``start``/
    ``rows``/``cursor_mark`` shape the page.

    ``fields`` is the stored-field table (doc_id + whatever boost/
    collapse/facet/sort read). Returns :class:`SelectResponse` whose
    ``docs`` page is (doc_id[, sort_field][, collapse_field], score) or,
    with elevation, (doc_id[, collapse_field], score, elevated, rank).

    Facets (all counted over the final post-fq, post-collapse match set):
    ``facet_fields`` — per-value counts, one response key per field;
    ``facet_ranges`` — ``{name: bucket Column over fields}`` (Solr
    facet.range: the caller expresses start/gap as the bucket expression,
    e.g. ``F.date_trunc("day", col)``), response key = name, columns
    (name, cnt); ``facet_pivots`` — each a tuple of field names (Solr
    facet.pivot=a,b), response key = "a,b", nested counts; ``json_facet``
    — ``(field, aggs)``, each agg an (output_name, fn) pair where fn maps
    a column accessor to an aggregate Column (e.g. ``("avg_len", lambda c:
    F.avg(c("n_chars")))``), response key = "json:<field>", columns
    (field, count, *agg names), buckets ordered count desc (Solr's
    default), nested stats riding the same hash agg.

    ``cursor_mark`` follows the ACTIVE sort (Solr cursorMark is a keyset
    over the current sort spec): ``(last_score, last_doc_id)`` under the
    default score ranking, ``(last_sort_value, last_doc_id)`` when
    ``sort_field`` is given.

    ``hl_source`` (``hl=true&hl.fl=text``): a (doc_id, text) table — the
    response gains a ``highlighting`` section with one snippet per PAGE
    doc whose text matches an analyzed query term (the page's doc ids
    broadcast-semi-join the source, so highlighting reads ``rows`` docs,
    never the corpus). ``debug=True`` (``debugQuery``): the response
    gains an ``explain`` section — the per-(doc, term) BM25 breakdown
    for exactly the docs on the page (post-boost/rerank/collapse), not a
    re-derived plain-``q`` top-k.
    """
    spark = index.doc_stats.sparkSession
    if boost_mode not in ("multiply", "sum"):
        raise ValueError(f"boost_mode must be multiply|sum, got {boost_mode!r}")
    if cursor_mark is not None and (start or elevate_ids):
        raise ValueError("cursorMark cannot combine with start or elevation (Solr 400)")
    any_facet = bool(facet_fields or facet_ranges or facet_pivots or json_facet)
    needs_fields = boost is not None or collapse_field or any_facet or sort_field
    if needs_fields and fields is None:
        raise ValueError("boost/collapse/facet/sort require the stored-field table")
    cached = [None]  # the persisted match set, threaded into the response

    def _finish(page: DataFrame, facets: dict, num_found: "int | None") -> SelectResponse:
        """Attach the hl / debug sections to the final page — both are
        page-sized broadcast joins, never another pass over postings."""
        hl_df = None
        if hl_source is not None:
            page_docs = F.broadcast(page.select("doc_id"))
            hl_df = _highlight(
                hl_source.join(page_docs, "doc_id", "left_semi"),
                q, profile=index.profile,
                frag_size=hl_frag_size, pre=hl_pre, post=hl_post,
            )
        explain_df = None
        if debug:
            partials = score_partials(index, q, k1=k1, b=b, quantize=quantize)
            explain_df = (
                spark.createDataFrame(
                    [], "doc_id long, term string, tf long, df long, "
                        "idf double, partial double")
                if partials is None
                else partials.join(
                    F.broadcast(page.select("doc_id")), "doc_id", "left_semi")
            )
        return SelectResponse(docs=page, facets=facets, num_found=num_found,
                              highlighting=hl_df, explain=explain_df,
                              _cached=cached[0])

    # 1. a page-only request is served by WAND (module docstring, stage 1)
    page_only = (
        quantize
        and (index.impact_k1, index.impact_b) == (float(k1), float(b))
        # WAND refuses to bucket deletes without the build's bucket width
        and (index.deletes is None or index.bucket_bits is not None)
        and rows >= 0
        and fq is None and not exclude and mm is None
        and boost is None and rerank_query is None and not collapse_field
        and not elevate_ids and not any_facet and not sort_field
        and not start and cursor_mark is None and not with_num_found
    )
    if page_only:
        return _finish(bm25_topk_wand(index, q, k=rows, k1=k1, b=b), {}, None)

    per_doc = score_or_docs(
        index, q, k1=k1, b=b, quantize=quantize,
        extra_filter=fq, exclude=exclude, min_match=mm,
    )
    if per_doc is None:  # zero hits: the same stages over an empty match set
        per_doc = spark.createDataFrame([], "doc_id long, score double")

    # 2+3. boost, then collapse FIRST relative to rerank ({!collapse} is
    # an fq PostFilter applied at collection time, so rq reranks the
    # post-collapse survivors). Both sections read the SAME stored-field
    # table, so they share ONE join: every extra join is an extra
    # AQE-materialized job in the request, and warm-query latency here is
    # scheduling-bound (BASELINE.md §4). Composition is unchanged —
    # boost's LEFT + identity default followed by collapse's INNER equals
    # one INNER join when both are present (docs absent from the
    # stored-field table are dropped by collapse either way; a present
    # doc with a NULL boost value still coalesces to the identity).
    # sort_field rides the SAME shared join (it would otherwise be a
    # second stored-field join in step 7 — an extra AQE-materialized job,
    # and an ambiguous-column crash when sort_field == collapse_field).
    # The elevation path never reaches step 7 and orders by rank, so it
    # keeps the join minimal.
    carry_sort = bool(sort_field) and sort_field != collapse_field and not elevate_ids
    if boost is not None or collapse_field or carry_sort:
        proj = [F.col("doc_id")]
        if boost is not None:
            proj.append(boost.cast("double").alias("_boost"))
        if collapse_field:
            proj.append(F.col(collapse_field))
        if carry_sort:
            proj.append(F.col(sort_field))
        per_doc = per_doc.join(
            fields.select(*proj), "doc_id",
            "inner" if (collapse_field or carry_sort) else "left",
        )
    if boost is not None:
        ident = 1.0 if boost_mode == "multiply" else 0.0
        op = (
            F.col("score") * F.coalesce(F.col("_boost"), F.lit(ident))
            if boost_mode == "multiply"
            else F.col("score") + F.coalesce(F.col("_boost"), F.lit(ident))
        )
        keep = (
            ["doc_id"]
            + ([collapse_field] if collapse_field else [])
            + ([sort_field] if carry_sort else [])
        )
        per_doc = per_doc.select(*keep, op.alias("score"))
    if collapse_field:
        from pyspark.sql.window import Window

        w = Window.partitionBy(collapse_field).orderBy(
            F.col("score").desc(), F.col("doc_id").asc()
        )
        per_doc = (
            per_doc.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    # 4. rerank: head of the (collapsed) ranking adjusted, tail keeps its
    #    first-pass score, all re-sort. Carries collapse_field through.
    if rerank_query is not None:
        keep_cols = [c for c in per_doc.columns if c != "score"]
        head = (
            per_doc.orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(rerank_docs)
        )
        rr = score_or_docs(index, rerank_query, k1=k1, b=b, quantize=quantize)
        if rr is not None:
            # broadcast the RIGHT side (BroadcastHashJoin cannot broadcast
            # the preserved side of a left-outer join): semi-join rr down
            # to the head's ids, then broadcast that request-sized frame
            rr_small = rr.withColumnRenamed("score", "_rr").join(
                F.broadcast(head.select("doc_id")), "doc_id", "left_semi"
            )
            adjusted = (
                head
                .join(F.broadcast(rr_small), "doc_id", "left")
                .select(
                    *keep_cols,
                    (
                        F.col("score")
                        + F.lit(float(rerank_weight))
                        * F.coalesce(F.col("_rr"), F.lit(0.0))
                    ).alias("score"),
                )
            )
            tail = per_doc.join(
                F.broadcast(head.select("doc_id")), "doc_id", "left_anti"
            )
            per_doc = adjusted.unionByName(tail.select(*keep_cols, "score"))

    # section batching (VERDICT r4 #6): the page, every facet flavor and
    # num_found each trigger their own action over per_doc — persist the
    # (already reduced, one-row-per-doc) match set when more than one
    # section will read it, so scoring runs ONCE per request. The caller
    # releases it via SelectResponse.release().
    n_sections = (
        1
        + (1 if any_facet else 0)
        + (1 if with_num_found else 0)
        # hl and debug re-read the page (built on per_doc) when collected
        + (1 if hl_source is not None else 0)
        + (1 if debug else 0)
    )
    if n_sections >= 2:
        per_doc = cached[0] = persist_private(per_doc)

    # 5. facets over the final (post-fq, post-collapse) match set — every
    #    flavor shares ONE semi-joined stored-field frame
    facets: dict = {}
    if any_facet:
        matched = fields.join(per_doc.select("doc_id"), "doc_id", "left_semi")
        for f in facet_fields:
            facets[f] = matched.groupBy(f).agg(F.count("*").alias("cnt"))
        for name, bucket in (facet_ranges or {}).items():
            facets[name] = (
                matched.select(bucket.alias(name))
                .groupBy(name)
                .agg(F.count("*").alias("cnt"))
            )
        for pivot in facet_pivots:
            facets[",".join(pivot)] = (
                matched.groupBy(*pivot).agg(F.count("*").alias("cnt"))
            )
        if json_facet is not None:
            jf_field, jf_aggs = json_facet
            agg_cols = [fn(F.col).alias(name) for name, fn in jf_aggs]
            facets[f"json:{jf_field}"] = (
                matched.groupBy(jf_field)
                .agg(F.count("*").alias("count"), *agg_cols)
                .orderBy(F.col("count").desc(), F.col(jf_field).asc())
            )

    num_found = int(per_doc.count()) if with_num_found else None

    # 6. elevation: pinned head (configured order, real scores) + organic.
    #    fq / exclude / deletes still apply to pinned docs — Solr's
    #    QueryElevationComponent forces docs onto the page even when they
    #    don't match q, but never past a filter query.
    if elevate_ids:
        elev = spark.createDataFrame(
            [(int(d), i) for i, d in enumerate(elevate_ids)], "doc_id long, pos int"
        )
        filtered = fq is not None or bool(exclude) or index.deletes is not None
        if fq is not None:
            elev = elev.join(
                index.doc_stats.filter(fq).select("doc_id"), "doc_id", "left_semi"
            )
        if exclude:
            neg_terms = analyze_query(exclude, index.profile)
            if neg_terms:
                elev = elev.join(
                    index.flat_terms(neg_terms).select("doc_id"),
                    "doc_id", "left_anti",
                )
        if index.deletes is not None:
            elev = elev.join(
                index.deletes.select("doc_id"), "doc_id", "left_anti"
            )
        n_pinned = int(elev.count()) if filtered else len(elevate_ids)

        from pyspark.sql.window import Window

        # Ranks are DENSE: pinned 0..n_pinned-1 (survivor order), organic
        # continues at exactly n_pinned, so filter(rank >= start) is an
        # exact offset slice.
        pinned = (
            F.broadcast(elev)
            .join(per_doc, "doc_id", "left")
            .select(
                "doc_id",
                *( [collapse_field] if collapse_field else [] ),
                F.coalesce(F.col("score"), F.lit(0.0)).alias("score"),
                F.lit(True).alias("elevated"),
                (F.row_number().over(Window.orderBy("pos")) - 1)
                .cast("long").alias("rank"),
            )
        )
        organic = (
            per_doc.join(F.broadcast(elev.select("doc_id")), "doc_id", "left_anti")
            .orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(start + rows)
            .select(
                "doc_id",
                *( [collapse_field] if collapse_field else [] ),
                "score",
                F.lit(False).alias("elevated"),
                (
                    F.lit(n_pinned)
                    + F.row_number().over(
                        Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
                    )
                    - F.lit(1)
                ).cast("long").alias("rank"),
            )
        )
        page = pinned.unionByName(organic)
        if start:
            page = page.filter(F.col("rank") >= start)
        return _finish(page.orderBy("rank").limit(rows), facets, num_found)

    # 7. sort + paging (sort_field was carried through the shared
    #    stored-field join above — no second join here)
    if sort_field:
        key = F.col(sort_field).asc() if sort_ascending else F.col(sort_field).desc()
        order = [key, F.col("doc_id").asc()]
        out_cols = ["doc_id", sort_field] + (
            [collapse_field]
            if collapse_field and collapse_field != sort_field
            else []
        ) + ["score"]
    else:
        order = [F.col("score").desc(), F.col("doc_id").asc()]
        out_cols = ["doc_id"] + ([collapse_field] if collapse_field else []) + ["score"]

    if cursor_mark is not None:
        # keyset over the ACTIVE sort spec (Solr cursorMark semantics)
        last_key, last_doc = cursor_mark[0], int(cursor_mark[1])
        if sort_field:
            # NULL sort keys order the way Spark sorts them (asc = NULLS
            # FIRST, desc = NULLS LAST); a plain >/== keyset would return
            # NULL for every row once the cursor lands on a NULL key and
            # silently truncate pagination, so the predicate is spelled
            # out per null-region.
            sk = F.col(sort_field)
            if last_key is None:
                cond = sk.isNull() & (F.col("doc_id") > last_doc)
                if sort_ascending:
                    cond = cond | sk.isNotNull()
            else:
                ahead = (
                    sk > F.lit(last_key) if sort_ascending else sk < F.lit(last_key)
                )
                cond = ahead | ((sk == F.lit(last_key)) & (F.col("doc_id") > last_doc))
                if not sort_ascending:
                    cond = cond | sk.isNull()
            per_doc = per_doc.filter(cond)
        else:
            last_score = float(last_key)
            per_doc = per_doc.filter(
                (F.col("score") < last_score)
                | ((F.col("score") == last_score) & (F.col("doc_id") > last_doc))
            )
        page = per_doc.orderBy(*order).limit(rows)
    elif start:
        top = per_doc.orderBy(*order).limit(start + rows)
        sliced = top.collect()[start : start + rows]
        page = (
            spark.createDataFrame(sliced, top.schema)
            if sliced else spark.createDataFrame([], top.schema)
        )
    else:
        page = per_doc.orderBy(*order).limit(rows)
    return _finish(page.select(*out_cols), facets, num_found)
