"""Inverted-index build (SURVEY §3.1 "Our Spark equivalent").

Replaces the reference's scan -> enrich -> publish -> Solr-add pipeline
(``SolrSemanticIndexer.java:97-99,217-224`` page loop; destination Lucene
index implied by ``SolrSemanticIndexer.java:103``) with declarative
DataFrame stages Catalyst can optimize end-to-end. ``build_index`` and
``build_and_write_index`` run the same stages (``_build``); the first keeps
each stage's output persisted in memory, the second writes it under a path:

    input table
      -> stamp doc ids + analyze + per-doc tf  (ONE mapInPandas, ``_analyze``;
                                                one docid.py stamp for
                                                N text fields)
      -> doc_stats                  (doc_id, key cols, dl, dl_quant; N, sum dl)
      -> explode (term, doc_id, tf, dl)        (narrow, JVM-side)
      -> (term, bucket) shuffle + block encode (block_postings.py, codec.py)
      -> term_stats from block metadata        (df = sum cnt, ttf = sum sum_tf)
      -> index_meta                            (written indexes only)

Blocks are the only postings, as a Lucene segment keeps one postings
format. Scorers read them through ``score.term_leaf`` (every BM25 term
leaf) and ``InvertedIndex.flat_terms`` (match-only decodes), which decode
only the query's terms to (term, doc_id, tf, dl_quant) rows, or through
block-max WAND. Each posting stores the Lucene-quantized dl as its
SmallFloat norm byte (similarity.py) — what Solr's BM25 scores with; the
exact dl comes from ``doc_stats``, joined only for ``quantize=False``
scoring.

A multi-field index (multifield.py) runs the same pipeline: ``_analyze``
tokenizes its N text fields in the one Python stage, after one doc-id
stamp, and every stage after analysis (``_index_analyzed``) runs once per
field over the docs whose field holds >= 1 token — one ``InvertedIndex``
per field, with Lucene's per-field docCount, avgdl and df.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Iterator, Sequence

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..functions.similarity import B_DEFAULT, K1_DEFAULT
from .docid import CACHE_LEVEL, stamp_doc_ids


def doc_stats_aggs() -> "list[Column]":
    """Corpus stats every build takes in ONE aggregate: n (doc count),
    s (sum of dl) and the doc-id range lo/hi (null on an empty index)."""
    return [
        F.count("*").alias("n"),
        F.coalesce(F.sum("dl"), F.lit(0)).alias("s"),
        F.min("doc_id").alias("lo"),
        F.max("doc_id").alias("hi"),
    ]


DEFAULT_PROFILE = "text_en"


def quantize_dl_col(dl: Column) -> Column:
    """Lucene SmallFloat norm quantization dl -> decode(encode(dl)) as a
    pure JVM expression, in CLOSED FORM: SmallFloat.intToByte4 encodes
    0..23 exactly and everything above as a 4-bit-mantissa float of
    (dl - 24), so the round-trip keeps the top 4 significant bits —
    ``24 + ((x >> s) << s)`` with ``s = max(bitlen(x) - 4, 0)``,
    x = dl - 24. Equality with the 256-entry LENGTH_TABLE round-trip is
    asserted across a full value sweep in tests/test_similarity.py.

    (History: this used to scan the 256-entry literal table with a
    higher-order array filter per row — interpreted, allocating, and
    measured 13x slower than this arithmetic on 20M rows; it was the
    round-3 build-throughput regression.)"""
    x = dl - F.lit(24)
    # exact integer bit length via base-2 string (no float log at
    # power-of-two boundaries); values are request-bounded ints, the
    # conv+length pair stays inside whole-stage codegen
    nbits = F.length(F.conv(x.cast("string"), 10, 2))
    s = F.greatest(nbits - F.lit(4), F.lit(0))
    p = F.pow(F.lit(2.0), s.cast("double")).cast("long")
    return F.when(dl < 24, dl).otherwise(F.lit(24) + (x - x % p)).cast("long")


def _analyze(
    df: DataFrame,
    texts: "dict[str, str]",
    key_cols: Sequence[str],
    profile: str,
    doc_id_col: "str | None",
    doc_id_offset: int = 0,
) -> DataFrame:
    """The build's ONE Python stage (SURVEY §2.5 W1 + §2.8 + A5): doc ids,
    analysis and per-doc tf in a single mapInPandas. ``texts`` maps an
    output suffix to a text column; each becomes ``terms<sfx>``,
    ``tfs<sfx>`` and ``dl<sfx>`` (a single-field index uses the suffix
    ""). Ids come from ``doc_id_col`` when given (already dense and
    stable), else from the docid.py stamp: prefix-sum offsets from a cheap
    key-range job, range-partition + sort by key, ``offset + ordinal``
    — a pure function of the key order, independent of parallelism
    (rank-identity). Folding tf here removes the (doc, term) hash-agg
    shuffle entirely: a doc's tokens never leave the partition (that
    shuffle measured as the NON-scaling stage — a string-heavy hash agg
    over every token occurrence)."""
    import pandas as pd

    from ..functions.analyzer import tf_series

    key_cols = [c for c in key_cols if c != doc_id_col]
    # prune to the columns this stage reads BEFORE the shuffle/cache: a
    # source table carrying heavy extra columns (embeddings, raw payloads)
    # would otherwise ride the range shuffle, the MEMORY_AND_DISK cache
    # and every Arrow batch for nothing
    id_cols = [doc_id_col] if doc_id_col else []
    src = df.select(*dict.fromkeys([*id_cols, *key_cols, *texts.values()]))
    key_fields = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    out_schema = ", ".join(
        ["doc_id long"]
        + [f"{c} {key_fields[c]}" for c in key_cols]
        + [f"terms{s} array<string>, tfs{s} array<int>, dl{s} long" for s in texts]
    )

    def analyze(ids, b: pd.DataFrame) -> pd.DataFrame:
        out = {"doc_id": ids}
        for c in key_cols:
            out[c] = b[c]
        for s, col in texts.items():
            out[f"terms{s}"], out[f"tfs{s}"], out[f"dl{s}"] = tf_series(b[col], profile)
        return pd.DataFrame(out)

    if doc_id_col is not None:

        def with_ids(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for b in batches:
                if len(b):
                    yield analyze(b[doc_id_col].astype("int64"), b)

        return src.mapInPandas(with_ids, schema=out_schema)

    nparts = max(2 * df.sparkSession.sparkContext.defaultParallelism, 2)
    keys = key_cols or list(texts.values())
    return stamp_doc_ids(src, keys, nparts, doc_id_offset, analyze, out_schema)


@dataclass
class InvertedIndex:
    """Logical inverted index: a handle of DataFrames plus scalar stats."""

    doc_stats: DataFrame        # doc_id, <key cols...>, dl, dl_quant
    postings_blocks: DataFrame  # block_postings.BLOCKS_SCHEMA rows
    term_stats: DataFrame       # term, df, ttf
    n_docs: int
    sum_dl: int
    profile: str
    key_cols: Sequence[str] = field(default_factory=tuple)
    deletes: DataFrame | None = None           # deletion vector (doc_id rows)
    doc_vectors: DataFrame | None = None       # doc-major (doc_id, terms, tfs)
    bucket_bits: int | None = None             # block-postings bucket width
    # avgdl the block impacts were ENCODED with. After deletes/compaction
    # the query-time avgdl can drift above it, making stored max_impact an
    # UNDERestimate — WAND scales its bounds by avgdl/impacts_avgdl to stay
    # a valid upper bound (see bm25_topk_wand).
    impacts_avgdl: float | None = None
    # k1/b the block impacts were ENCODED with. max_impact is only a valid
    # WAND bound for queries scored with the SAME k1/b (Lucene stores
    # (tf, norm) pairs and recomputes per-similarity; we store the folded
    # impact, so the parameters are part of the encoding contract) —
    # bm25_topk_wand raises on a mismatch.
    impact_k1: float | None = None
    impact_b: float | None = None
    # inclusive doc-id range the index may hold (None: not recorded). WAND
    # reads it to tell when its upper-bound loop could not skip a bucket.
    min_doc_id: int | None = None
    max_doc_id: int | None = None
    _caches: list = field(default_factory=list, repr=False, compare=False)

    @property
    def avgdl(self) -> float:
        # Lucene: sumTotalTermFreq / docCount as double division of exact longs
        return self.sum_dl / self.n_docs if self.n_docs else 0.0

    @property
    def postings_flat(self) -> DataFrame:
        """Every posting as (term, doc_id, tf, dl, dl_quant): a decode of
        the WHOLE block table, exact dl joined from doc_stats. For
        whole-index consumers (term-frequency dumps, simhash) and
        inspection; scorers go through ``flat_terms``."""
        from .block_postings import decode_blocks_to_flat

        return decode_blocks_to_flat(self.postings_blocks).join(
            self.doc_stats.select("doc_id", "dl"), "doc_id"
        ).select("term", "doc_id", "tf", "dl", "dl_quant")

    def flat_terms(self, terms: "Sequence[str]", postings: "int | None" = None) -> DataFrame:
        """(term, doc_id, tf, dl_quant) postings of ``terms`` — the J2
        query-term semi-join. The filter is applied to the BLOCKS scan
        before the Python decode (which Catalyst cannot push a predicate
        through), so a query decodes only its own terms' postings, never
        the index. The decode is sized by ``postings``, the terms' df sum
        (from the ``term_dfs`` memo when not given), so it runs no shuffle."""
        from .block_postings import decode_blocks_to_flat

        if postings is None:
            postings = sum(term_dfs(self, list(terms)).values())
        return decode_blocks_to_flat(
            self.postings_blocks.filter(F.col("term").isin(list(terms))), postings=postings
        )

    def release(self) -> None:
        """Unpersist every DataFrame this index pinned. Callers that build
        many indexes in one session (streaming micro-batches, segment
        appends) MUST call this after the index is written, or cached RDDs
        accumulate unboundedly across batches."""
        for df in self._caches:
            try:
                df.unpersist()
            except Exception:
                pass
        self._caches.clear()
        if self.deletes is not None:
            try:
                self.deletes.unpersist()
            except Exception:
                pass


def term_dfs(index: InvertedIndex, terms: Sequence[str]) -> dict[str, int]:
    """Memoized docfreq lookup — the driver-side analog of Lucene's cached
    term dictionary. One ``term_stats`` job fetches only the terms not yet
    seen on THIS index handle; repeat terms (the same query re-scored by
    select's debug/rerank stages, a multifield pass, a warm repeat query)
    cost zero jobs. Returns every requested term, 0 when unindexed.

    df is encode-time docfreq: like Lucene, deletes do not decrement df
    until compaction rewrites term_stats, so the memo can never go stale
    on a live handle (delete_by_query only grows ``index.deletes``;
    compact builds a NEW InvertedIndex and thus a fresh memo)."""
    cache = getattr(index, "_df_cache", None)
    if cache is None:
        cache = index._df_cache = {}
    missing = [t for t in terms if t not in cache]
    if missing:
        found = {
            r["term"]: int(r["df"])
            for r in index.term_stats.filter(F.col("term").isin(missing))
            .select("term", "df")
            .collect()
        }
        for t in missing:
            cache[t] = found.get(t, 0)
    return {t: cache[t] for t in terms}


def _explode(analyzed: DataFrame) -> DataFrame:
    """(doc_id, terms, tfs, dl) docs -> (term, doc_id, tf, dl) postings. tf
    was folded per doc inside the Python stage, so this emits one row per
    DISTINCT (doc, term) with no shuffle and no aggregate."""
    return analyzed.select(
        "doc_id", "dl", F.explode(F.arrays_zip("terms", "tfs")).alias("p")
    ).select(
        F.col("p.terms").alias("term"),
        "doc_id",
        F.col("p.tfs").cast("long").alias("tf"),
        "dl",
    )


def _index_analyzed(
    analyzed: DataFrame,
    path: "str | None",
    profile: str,
    key_cols: Sequence[str],
    bucket_bits: "int | None",
    k1: float,
    b: float,
    write_doc_vectors: bool = False,
) -> InvertedIndex:
    """Every stage after analysis, over (doc_id, <key cols>, terms, tfs,
    dl) docs: ``doc_stats``, explode, the (term, bucket) block encode and
    ``term_stats`` from block metadata. With ``path=None`` each stage's
    output is persisted in memory (and listed in the index's caches);
    with a path it is written there as parquet and read back."""
    from .block_postings import (
        DEFAULT_BUCKET_BITS,
        encode_flat_to_blocks,
        term_stats_from_blocks,
    )

    if bucket_bits is None:
        bucket_bits = DEFAULT_BUCKET_BITS
    spark = analyzed.sparkSession
    caches: list = []

    def keep(name: str, frame: DataFrame) -> DataFrame:
        if path is None:
            frame.persist(CACHE_LEVEL)
            caches.append(frame)
            return frame
        frame.write.mode("overwrite").parquet(f"{path}/{name}")
        return spark.read.parquet(f"{path}/{name}")

    doc_stats = keep(
        "doc_stats",
        analyzed.drop("terms", "tfs").withColumn("dl_quant", quantize_dl_col(F.col("dl"))),
    )
    stats = doc_stats.agg(*doc_stats_aggs()).first()
    n_docs, sum_dl = int(stats["n"]), int(stats["s"])
    avgdl = sum_dl / n_docs if n_docs else 0.0

    # ONE shuffle: explode -> (term, bucket) encode. The encoder's output
    # is already grouped by (term, bucket) and sorted within partitions,
    # so it is kept as is (parquet row-group min/max on term still prunes
    # query-term scans).
    blocks = keep(
        "postings_blocks",
        encode_flat_to_blocks(
            _explode(analyzed), avgdl, bucket_bits=bucket_bits, k1=k1, b=b
        ),
    )
    term_stats = keep("term_stats", term_stats_from_blocks(blocks))

    # doc-major term vectors come free from the cached analyze output:
    # MoreLikeThis fetches ONE doc's vector — a point lookup here, vs a
    # full scan of term-ordered postings (VERDICT r2 "what's wrong" #2)
    doc_vectors = analyzed.select("doc_id", "terms", "tfs")
    if path is not None and write_doc_vectors:
        # range-partitioned + sorted by doc_id so a doc_id predicate prunes
        # to one file / row group
        doc_vectors.repartitionByRange("doc_id").sortWithinPartitions(
            "doc_id"
        ).write.mode("overwrite").parquet(f"{path}/doc_vectors")

    return InvertedIndex(
        doc_stats=doc_stats,
        postings_blocks=blocks,
        term_stats=term_stats,
        n_docs=n_docs,
        sum_dl=sum_dl,
        profile=profile,
        key_cols=tuple(key_cols),
        doc_vectors=doc_vectors,
        bucket_bits=bucket_bits,
        impacts_avgdl=avgdl,
        impact_k1=float(k1),
        impact_b=float(b),
        min_doc_id=stats["lo"],
        max_doc_id=stats["hi"],
        _caches=caches,
    )


def _build(
    df: DataFrame,
    path: "str | None",
    text_col: str,
    key_cols: Sequence[str],
    profile: str,
    doc_id_col: "str | None",
    doc_id_offset: int,
    bucket_bits: "int | None",
    k1: float,
    b: float,
    write_doc_vectors: bool = False,
) -> InvertedIndex:
    """The one build pipeline. With ``path=None`` every stage's output is
    persisted in memory; with a path it is written there as parquet and
    read back, and ``index_meta`` is written last as the commit record."""
    # The analyzer is the expensive Python stage: run it exactly ONCE and
    # persist its output (serialized) for the fan-out below.
    analyzed = _analyze(df, {"": text_col}, key_cols, profile, doc_id_col, doc_id_offset)
    analyzed.persist(CACHE_LEVEL)
    index = _index_analyzed(
        analyzed, path, profile, key_cols, bucket_bits, k1, b,
        write_doc_vectors,
    )
    if path is None:
        index._caches.insert(0, analyzed)
        return index
    write_meta_file(df.sparkSession, path, index_meta(index))
    analyzed.unpersist()
    return read_index(df.sparkSession, path)


def build_index(
    df: DataFrame,
    text_col: str = "text",
    key_cols: Sequence[str] = ("conv_id", "turn_idx"),
    profile: str = DEFAULT_PROFILE,
    doc_id_col: str | None = None,
    doc_id_offset: int = 0,
) -> InvertedIndex:
    """Build an index held in memory (every table persisted). If
    ``doc_id_col`` is given it is used as the (already dense/stable)
    document id; otherwise ids are assigned by global ``(key_cols)`` rank
    via the two-pass zip-with-index. Blocks use the default encoding
    (``DEFAULT_BUCKET_BITS``, library BM25 ``k1``/``b``); other encodings
    are built with ``build_and_write_index``."""
    return _build(
        df, None, text_col, key_cols, profile, doc_id_col, doc_id_offset,
        None, K1_DEFAULT, B_DEFAULT,
    )


def delete_by_query(index: InvertedIndex, predicate) -> InvertedIndex:
    """Q6 delete-by-query (``SolrAdminActions.java:268`` — the orphan
    delete ``-crawl_id:X``) as a Lucene-style deletion vector: matching
    doc ids are recorded in ``index.deletes`` and every scorer drops them
    pre-ranking (anti-join on the tiny delete set). Like Lucene, corpus
    statistics (N, avgdl, df) keep counting deleted docs until a physical
    merge rewrites the segments."""
    newly = index.doc_stats.filter(predicate).select("doc_id")
    prev = index.deletes
    if prev is None:
        index.deletes = newly.distinct()
    else:
        index.deletes = prev.select("doc_id").unionByName(newly).distinct()
    index.deletes.persist()
    if prev is not None:
        # release the superseded vector: N successive deletes would
        # otherwise pin N-1 dead persisted sets for the session lifetime
        try:
            prev.unpersist()
        except Exception:
            pass
    return index


def build_and_write_index(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    key_cols: Sequence[str] = ("conv_id", "turn_idx"),
    profile: str = DEFAULT_PROFILE,
    doc_id_col: str | None = None,
    doc_id_offset: int = 0,
    bucket_bits: int | None = None,
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
    write_doc_vectors: bool = False,
) -> "InvertedIndex":
    """Input table -> persistent index at ``path``, through the same stages
    as ``build_index`` with MINIMAL materialization (this is what the
    benchmark and every segment append run): one fused Python stage, the
    ``doc_stats`` write, ONE (term, bucket) shuffle into the block write,
    ``term_stats`` from block METADATA, then ``index_meta``. ``k1``/``b``
    are folded into the stored block impacts, so WAND must later be
    queried with the same values. ``write_doc_vectors`` also writes the
    doc-major forward index MoreLikeThis point-reads. Returns the index
    read back from ``path``."""
    return _build(
        df, path, text_col, key_cols, profile, doc_id_col, doc_id_offset,
        bucket_bits, k1, b, write_doc_vectors,
    )


# index_meta keys -> (encode, decode). Every value is a string in the
# JSON control file; keys whose value is unknown (None) are left out.
_INT_META = (lambda v: str(int(v)), int)
_FLOAT_META = (lambda v: repr(float(v)), float)
_META_CODECS = {
    "n_docs": _INT_META,
    "sum_dl": _INT_META,
    "profile": (str, str),
    "key_cols": (",".join, lambda v: tuple(v.split(",")) if v else ()),
    "bucket_bits": _INT_META,
    "impacts_avgdl": _FLOAT_META,
    "impact_k1": _FLOAT_META,
    "impact_b": _FLOAT_META,
    "min_doc_id": _INT_META,
    "max_doc_id": _INT_META,
}


def index_meta(index: InvertedIndex) -> dict:
    """The ``index_meta`` record of an index: its corpus stats and the
    encoding its blocks were written with. ``read_index`` decodes it back
    into the same ``InvertedIndex`` fields."""
    return {
        key: enc(getattr(index, key))
        for key, (enc, _) in _META_CODECS.items()
        if getattr(index, key) is not None
    }


def write_meta_file(spark: SparkSession, path: str, meta: dict) -> None:
    """Persist ``index_meta`` as ONE driver-written JSON control file via
    the Hadoop FileSystem API (resolves local/HDFS/S3 paths exactly like
    Spark's own readers). Metadata is a control-plane record: a
    distributed job + parquet commit protocol for six key/value rows
    costs ~2 s per build or segment append (BASELINE.md §9) and buys
    nothing — Iceberg/Delta write their table metadata the same
    driver-side way. Written to a temp name then renamed (atomic on
    HDFS/local; best-effort on S3, where the meta file is still written
    LAST so it acts as the commit record)."""
    import json

    jvm = spark._jvm
    jconf = spark._jsc.hadoopConfiguration()
    final = jvm.org.apache.hadoop.fs.Path(f"{path}/index_meta.json")
    tmp = jvm.org.apache.hadoop.fs.Path(f"{path}/index_meta.json.tmp")
    fs = final.getFileSystem(jconf)
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(json.dumps(meta, sort_keys=True).encode("utf-8")))
    finally:
        out.close()
    if fs.exists(final):
        fs.delete(final, False)
    if not fs.rename(tmp, final):
        raise IOError(f"could not publish {path}/index_meta.json")


def hadoop_delete(spark: SparkSession, path: str) -> bool:
    """Recursively delete a path through the Hadoop FileSystem API — the
    same resolver Spark's readers use, so it works on local/HDFS/S3 URIs
    alike (a ``shutil.rmtree`` here would silently no-op on any non-local
    scheme and leave stale state behind). Returns True when something was
    deleted, False when the path did not exist."""
    jvm = spark._jvm
    jconf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(jconf)
    if not fs.exists(p):
        return False
    return bool(fs.delete(p, True))


def hadoop_list_dirs(spark: SparkSession, path: str) -> "list[str]":
    """Names of the immediate sub-directories of ``path`` via the Hadoop
    FileSystem API (empty when the path does not exist); the portable
    replacement for ``os.listdir`` on index paths."""
    jvm = spark._jvm
    jconf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(jconf)
    if not fs.exists(p):
        return []
    return sorted(
        st.getPath().getName() for st in fs.listStatus(p) if st.isDirectory()
    )


def read_meta_file(spark: SparkSession, path: str) -> "dict | None":
    """Read the JSON ``index_meta`` control file; None when absent (the
    caller falls back to the legacy parquet ``index_meta`` directory so
    indexes written before this format still load)."""
    import json

    jvm = spark._jvm
    jconf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(f"{path}/index_meta.json")
    fs = p.getFileSystem(jconf)
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        data = jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
    finally:
        stream.close()
    return json.loads(bytes(data).decode("utf-8"))


def read_parquet_or_none(reader, *paths: str) -> "DataFrame | None":
    """``reader.parquet(*paths)``, or None when a path does not exist. ONLY
    path-missing means "absent": a corrupt or unreadable file propagates,
    since treating it as absent would silently drop data (resurrect
    deleted docs, restart doc ids at 0)."""
    try:
        return reader.parquet(*paths)
    except AnalysisException as e:
        msg = str(e)
        if "PATH_NOT_FOUND" in msg or "Path does not exist" in msg:
            return None
        raise


def write_index(index: InvertedIndex, path: str) -> None:
    """Persist the index tables as parquet dirs (Iceberg tables when a
    catalog is configured — same writer API via ``writeTo``): doc_stats,
    term_stats, the block postings, the deletion vector if any, and
    ``index_meta`` last as the commit record."""
    from .block_postings import write_blocks

    index.doc_stats.write.mode("overwrite").parquet(f"{path}/doc_stats")
    index.term_stats.write.mode("overwrite").parquet(f"{path}/term_stats")
    if index.deletes is not None:
        # durable deletion vector (Lucene .liv analog): reload must not
        # resurrect deleted docs
        index.deletes.select("doc_id").coalesce(1).write.mode("overwrite").parquet(
            f"{path}/deletes"
        )
    write_blocks(index.postings_blocks, f"{path}/postings_blocks")
    write_meta_file(index.doc_stats.sparkSession, path, index_meta(index))


def read_index(spark: SparkSession, path: str) -> InvertedIndex:
    meta = read_meta_file(spark, path)
    if meta is None:  # legacy layout: parquet key/value directory
        meta = {
            r["key"]: r["value"]
            for r in spark.read.parquet(f"{path}/index_meta").collect()
        }
    blocks = read_parquet_or_none(spark.read, f"{path}/postings_blocks")
    if blocks is None:
        raise ValueError(
            f"{path} has no postings_blocks: block postings are the only "
            "postings format; rebuild the index with build_and_write_index"
        )
    deletes = read_parquet_or_none(spark.read, f"{path}/deletes")
    return InvertedIndex(
        doc_stats=spark.read.parquet(f"{path}/doc_stats"),
        postings_blocks=blocks,
        term_stats=spark.read.parquet(f"{path}/term_stats"),
        deletes=None if deletes is None else deletes.select("doc_id").distinct(),
        # optional doc-major forward index (write_doc_vectors=True)
        doc_vectors=read_parquet_or_none(spark.read, f"{path}/doc_vectors"),
        **{key: dec(meta[key]) for key, (_, dec) in _META_CODECS.items() if key in meta},
    )
