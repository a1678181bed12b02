"""Chunking operators (SURVEY §2.9): the reference's gRPC chunker
(``ChunkDocumentListener.java:131-134``, size=300/overlap=30 per
``application.yml:86-88``) and chunk-doc constructor
(``ChunkDocumentListener.java:141-156``: ``id = parent#%07d`` child rows)
re-expressed as declarative column ops + posexplode."""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def char_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    size: int = 300,
    overlap: int = 30,
) -> DataFrame:
    """Child rows: (id, parent_id, chunk, chunk_number).

    Sliding character windows with overlap; id = parent + '#' + %07d
    (``ChunkDocumentListener.java:142`` lpad semantics). posexplode of a
    sequence keeps it one narrow stage — no shuffle, no UDF.
    """
    if overlap >= size:
        # step 0 is a DIVIDE_BY_ZERO under ANSI; step < 0 silently
        # truncates every doc to its first window
        raise ValueError(f"overlap ({overlap}) must be < size ({size})")
    step = size - overlap
    n = F.greatest(
        F.lit(1), F.ceil((F.length(F.col(text_col)) - F.lit(overlap)) / F.lit(step)).cast("int")
    )
    return df.select(
        F.col(id_col).alias("parent_id"),
        F.col(text_col),
        F.posexplode(F.sequence(F.lit(0), n - 1)).alias("chunk_number", "_i"),
    ).select(
        F.concat_ws(
            "#",
            F.col("parent_id").cast("string"),
            F.lpad(F.col("chunk_number").cast("string"), 7, "0"),
        ).alias("id"),
        "parent_id",
        F.substring(F.col(text_col), F.col("chunk_number") * step + 1, size).alias("chunk"),
        F.col("chunk_number").cast("int").alias("chunk_number"),
    )


def token_window_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    size: int = 300,
    overlap: int = 30,
) -> DataFrame:
    """Token-window variant (whitespace tokens), same child-row contract —
    mirrors the mock chunker semantics (``grpc/ChunkServiceMock.java:58-69``:
    fixed-size word windows with overlap carry)."""
    if overlap >= size:
        raise ValueError(f"overlap ({overlap}) must be < size ({size})")
    step = size - overlap
    # trim first: split('\\s+') on leading/trailing whitespace yields
    # empty-string tokens that inflate the count and leak spaces into
    # concat_ws chunks
    toks = F.split(F.trim(F.col(text_col)), "\\s+")
    n = F.greatest(F.lit(1), F.ceil((F.size(toks) - F.lit(overlap)) / F.lit(step)).cast("int"))
    return df.select(
        F.col(id_col).alias("parent_id"),
        toks.alias("_toks"),
        F.posexplode(F.sequence(F.lit(0), n - 1)).alias("chunk_number", "_i"),
    ).select(
        F.concat_ws(
            "#",
            F.col("parent_id").cast("string"),
            F.lpad(F.col("chunk_number").cast("string"), 7, "0"),
        ).alias("id"),
        "parent_id",
        F.concat_ws(" ", F.slice(F.col("_toks"), F.col("chunk_number") * step + 1, size)).alias("chunk"),
        F.col("chunk_number").cast("int").alias("chunk_number"),
    )


def block_join_parent_topk(
    chunk_index,
    query: str,
    k: int = 10,
    score_mode: str = "max",
    k1: float = 1.2,
    b: float = 0.75,
    quantize: bool = True,
    parent_id_type: str = "long",
):
    """Solr block join ({!parent which=...} / ToParentBlockJoinQuery):
    score CHILD chunk docs with BM25, return PARENTS ranked by their best
    (score_mode='max') or summed ('total') child score — the canonical
    retrieval over the reference's chunk collections, whose child ids are
    ``parent#%07d`` (``ChunkDocumentListener.java:141-156``).

    ``chunk_index`` is an InvertedIndex built over the chunk table with
    ``doc_id_col`` absent and key ``id`` carrying the parent#n string
    (use ``build_index(chunks, text_col='chunk', key_cols=('id',))``).
    Returns (parent_id, score, best_chunk) with doc-id tie-breaks.

    ``parent_id_type``: dtype of the recovered parent id (default
    ``"long"`` for numeric parents; pass ``"string"`` for arbitrary
    Solr-style string ids — the reference allows any id).
    """
    from pyspark.sql.window import Window

    from .score import score_or_docs

    spark = chunk_index.doc_stats.sparkSession
    agg_fn = {"max": F.max, "total": F.sum}[score_mode]
    scored = score_or_docs(chunk_index, query, k1=k1, b=b, quantize=quantize)
    if scored is None:
        return spark.createDataFrame(
            [], f"parent_id {parent_id_type}, score double, best_chunk string"
        )
    # child doc_id -> its chunk id string -> parent id
    ids = chunk_index.doc_stats.select("doc_id", "id")
    # parent = everything before the TRAILING '#%07d' suffix (a split on
    # the FIRST '#' would truncate parents that themselves contain '#')
    parent = F.regexp_extract(F.col("id"), r"^(.*)#\d{7}$", 1)
    if parent_id_type != "string":
        parent = parent.cast(parent_id_type)
    with_parent = scored.join(ids, "doc_id").select(
        parent.alias("parent_id"),
        F.col("score").alias("cscore"),
        F.col("id").alias("chunk_id"),
    )
    # one window pass: rank chunks within each parent (best chunk = rn 1)
    # and aggregate the parent score per score_mode over the same partition
    w = Window.partitionBy("parent_id").orderBy(
        F.col("cscore").desc(), F.col("chunk_id").asc()
    )
    wall = Window.partitionBy("parent_id")
    heads = (
        with_parent.withColumn("rn", F.row_number().over(w))
        .withColumn("score", agg_fn("cscore").over(wall))
        .filter(F.col("rn") == 1)
    )
    return (
        heads.select("parent_id", "score", F.col("chunk_id").alias("best_chunk"))
        .orderBy(F.col("score").desc(), F.col("parent_id").asc())
        .limit(k)
    )


def join_chunks_to_parents(
    chunks: DataFrame, parents: DataFrame, parent_id_col: str = "doc_id", broadcast_parents: bool = False
) -> DataFrame:
    """J1 parent<->chunk re-association (``ChunkDocumentListener.java:147``).

    Broadcast when the parent side is a small dim; sort-merge otherwise —
    leave the choice to AQE unless forced."""
    p = F.broadcast(parents) if broadcast_parents else parents
    return chunks.join(p, chunks["parent_id"] == p[parent_id_col], "inner")
