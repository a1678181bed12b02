"""Inverted-index build (SURVEY §3.1 "Our Spark equivalent").

Replaces the reference's scan -> enrich -> publish -> Solr-add pipeline
(``SolrSemanticIndexer.java:97-99,217-224`` page loop; destination Lucene
index implied by ``SolrSemanticIndexer.java:103``) with declarative
DataFrame stages Catalyst can optimize end-to-end:

    input table
      -> assign_doc_ids            (two-pass zip-with-index, docid.py)
      -> analyze (Arrow pandas_udf, one batch per call)
      -> explode tokens            (JVM-side posexplode)
      -> tf  = groupBy(doc, term)  (partial+final hash agg, map-side combine)
      -> df  = groupBy(term)       (exact docfreq — rank-identity needs exact)
      -> doc_stats / index_meta    (N, avgdl from exact long sums)

The "flat postings" table produced here — one row per (term, doc_id, tf,
dl, dl_quant) — is the logical index; ``codec.py`` packs it into sorted
delta+varint block postings for the scale path, and ``score.py`` runs BM25
over either representation with identical results.

dl is denormalized into the postings rows at build time (SURVEY §2.3 J4)
so query-time scoring needs no doc_stats join. Both the exact dl and the
Lucene-quantized dl (SmallFloat byte norm, similarity.py) are carried;
quantized is what Solr's BM25 actually scores with.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Iterator, Sequence

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..functions.similarity import B_DEFAULT, K1_DEFAULT


def doc_stats_aggs() -> "list[Column]":
    """Corpus stats every build takes in ONE aggregate: n (doc count),
    s (sum of dl) and the doc-id range lo/hi (null on an empty index)."""
    return [
        F.count("*").alias("n"),
        F.coalesce(F.sum("dl"), F.lit(0)).alias("s"),
        F.min("doc_id").alias("lo"),
        F.max("doc_id").alias("hi"),
    ]


# Serialized cache: the tokenized corpus as deserialized Java objects (one
# String per token) causes GC thrash that *inverts* scaling — local[32]
# measured slower than local[8]. MEMORY_AND_DISK stores serialized blocks.
CACHE_LEVEL = StorageLevel.MEMORY_AND_DISK


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


def _stamp_and_analyze(
    df: DataFrame,
    text_col: str,
    key_cols: Sequence[str],
    profile: str,
    doc_id_offset: int = 0,
) -> DataFrame:
    """Fused docid assignment + analysis + per-doc tf (SURVEY §2.5 W1 +
    §2.8 + A5 in ONE Python stage): range-partition + sort by key,
    prefix-sum offsets from a cheap count job, then a single mapInPandas
    stamps ``offset + local ordinal``, tokenizes, and folds term
    frequencies per doc. Ids are a pure function of the key order —
    independent of parallelism (rank-identity). Folding tf here removes
    the (doc, term) hash-agg shuffle entirely: a doc's tokens never leave
    the partition (that shuffle measured as the NON-scaling stage — a
    string-heavy hash agg over every token occurrence)."""
    import numpy as np
    import pandas as pd

    from ..functions.analyzer import tf_series

    key_cols = list(key_cols)
    spark = df.sparkSession
    nparts = max(2 * spark.sparkContext.defaultParallelism, 2)
    # prune to the columns this stage emits BEFORE the shuffle/cache: a
    # source table carrying heavy extra columns (embeddings, raw payloads)
    # would otherwise ride the range shuffle, the MEMORY_AND_DISK cache
    # and every Arrow batch for nothing (out_schema below only carries
    # key cols + analysis output)
    needed = list(dict.fromkeys([*key_cols, text_col]))
    ordered = (
        df.select(*needed)
        .repartitionByRange(nparts, *key_cols)
        .sortWithinPartitions(*key_cols)
        .withColumn("_pid", F.spark_partition_id())
    )
    ordered.persist(CACHE_LEVEL)
    counts = dict(
        (r["_pid"], r["cnt"])
        for r in ordered.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()
    )
    offsets, acc = {}, doc_id_offset
    for pid in range(max(counts) + 1 if counts else 0):
        offsets[pid] = acc
        acc += counts.get(pid, 0)

    key_fields = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    out_schema = ", ".join(
        ["doc_id long"]
        + [f"{c} {key_fields[c]}" for c in key_cols]
        + ["terms array<string>", "tfs array<int>", "dl long"]
    )

    def stamp_analyze(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        local = 0
        for b in batches:
            if not len(b):
                continue
            off = offsets[int(b["_pid"].iloc[0])]
            ids = np.arange(off + local, off + local + len(b), dtype=np.int64)
            local += len(b)
            out = {"doc_id": ids}
            for c in key_cols:
                out[c] = b[c]
            out["terms"], out["tfs"], out["dl"] = tf_series(b[text_col], profile)
            yield pd.DataFrame(out)

    result = ordered.mapInPandas(stamp_analyze, schema=out_schema)
    # expose the persisted parent so builders can unpersist it once the
    # analyzed output is materialized (its only consumer)
    result._ordered_src = ordered
    return result


def _analyze_with_ids(
    df: DataFrame, text_col: str, key_cols: Sequence[str], doc_id_col: str, profile: str
) -> DataFrame:
    """Same fused analyze+tf stage for inputs that already carry a dense
    stable id (no ordering pass needed)."""
    import pandas as pd

    from ..functions.analyzer import tf_series

    key_cols = [c for c in key_cols if c != doc_id_col]
    key_fields = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    out_schema = ", ".join(
        ["doc_id long"]
        + [f"{c} {key_fields[c]}" for c in key_cols]
        + ["terms array<string>", "tfs array<int>", "dl long"]
    )

    def analyze(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            if not len(b):
                continue
            out = {"doc_id": b[doc_id_col].astype("int64")}
            for c in key_cols:
                out[c] = b[c]
            out["terms"], out["tfs"], out["dl"] = tf_series(b[text_col], profile)
            yield pd.DataFrame(out)

    cols = list(dict.fromkeys([doc_id_col, *key_cols, text_col]))
    return df.select(*cols).mapInPandas(analyze, schema=out_schema)


@dataclass
class InvertedIndex:
    """Logical inverted index: a handle of DataFrames plus scalar stats."""

    doc_stats: DataFrame       # doc_id, <key cols...>, dl, dl_quant
    postings_flat: DataFrame   # term, doc_id, tf, dl, dl_quant
    term_stats: DataFrame      # term, df, ttf
    n_docs: int
    sum_dl: int
    profile: str
    key_cols: Sequence[str] = field(default_factory=tuple)
    postings_blocks: DataFrame | None = None   # codec.py output (scale path)
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
    # True when postings_flat is a lazy DECODE of postings_blocks (blocks-
    # only persistence): a filter on the decoded view cannot be pushed
    # through the Python decode stage, so term-restricted access must go
    # through flat_terms()/flat_terms_semi(), which filter the BLOCKS scan
    # (parquet min/max pruning on term) before decoding.
    flat_from_blocks: bool = False
    _caches: list = field(default_factory=list, repr=False, compare=False)

    @property
    def avgdl(self) -> float:
        # Lucene: sumTotalTermFreq / docCount as double division of exact longs
        return self.sum_dl / self.n_docs if self.n_docs else 0.0

    def _decoded_flat(self, blocks: DataFrame) -> DataFrame:
        from .block_postings import decode_blocks_to_flat

        return decode_blocks_to_flat(blocks).join(
            self.doc_stats.select("doc_id", "dl"), "doc_id"
        ).select("term", "doc_id", "tf", "dl", "dl_quant")

    def flat_terms(self, terms: "Sequence[str]") -> DataFrame:
        """``postings_flat`` restricted to ``terms`` — the J2 query-term
        semi-join every scorer starts from. On a flat-backed index this is
        the usual pushed ``In(term)`` scan filter; on a blocks-only index
        the filter is applied to the BLOCKS scan before the Python decode
        (which Catalyst cannot push a predicate through), so a query
        decodes only its own terms' postings, never the index."""
        terms = list(terms)
        if not self.flat_from_blocks:
            return self.postings_flat.filter(F.col("term").isin(terms))
        return self._decoded_flat(
            self.postings_blocks.filter(F.col("term").isin(terms))
        )

    def flat_terms_semi(self, matching: DataFrame) -> DataFrame:
        """Like ``flat_terms`` but the term set is a (vocab-sliver)
        DataFrame — multi-term expansions (prefix/wildcard) whose member
        list lives in a broadcastable frame rather than a literal."""
        if not self.flat_from_blocks:
            return self.postings_flat.join(
                F.broadcast(matching.select("term")), "term", "left_semi"
            )
        return self._decoded_flat(
            self.postings_blocks.join(
                F.broadcast(matching.select("term")), "term", "left_semi"
            )
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


def build_index(
    df: DataFrame,
    text_col: str = "text",
    key_cols: Sequence[str] = ("conv_id", "turn_idx"),
    profile: str = "text_en",
    doc_id_col: str | None = None,
    doc_id_offset: int = 0,
) -> InvertedIndex:
    """Build the logical index. If ``doc_id_col`` is given it is used as the
    (already dense/stable) document id; otherwise ids are assigned by global
    ``(key_cols)`` rank via the two-pass zip-with-index."""
    key_cols = list(key_cols)

    # The analyzer is the expensive Python stage: run it exactly ONCE,
    # persist its output (serialized), and derive doc_stats / postings /
    # corpus stats from the cache. When ids must be assigned, the docid
    # stamp (two-pass zip-with-index, docid.py) is FUSED into the same
    # mapInPandas as the analyzer — one Python round-trip instead of two.
    if doc_id_col is None:
        analyzed = _stamp_and_analyze(df, text_col, key_cols, profile, doc_id_offset)
    else:
        analyzed = _analyze_with_ids(df, text_col, key_cols, doc_id_col, profile)
    ordered_src = getattr(analyzed, "_ordered_src", None)
    analyzed = analyzed.withColumn("dl_quant", quantize_dl_col(F.col("dl")))
    analyzed.persist(CACHE_LEVEL)

    doc_stats = analyzed.drop("terms", "tfs")

    # tf was folded per doc inside the Python stage, so this explode emits
    # one row per DISTINCT (doc, term) and needs NO shuffle and no agg —
    # a narrow stage. dl/dl_quant are denormalized into the postings rows
    # so query-time scoring needs no doc_stats join (SURVEY §2.3 J4).
    postings_flat = (
        analyzed.select(
            "doc_id", "dl", "dl_quant",
            F.explode(F.arrays_zip("terms", "tfs")).alias("p"),
        )
        .select(
            F.col("p.terms").alias("term"),
            "doc_id",
            F.col("p.tfs").cast("long").alias("tf"),
            "dl",
            "dl_quant",
        )
    )
    postings_flat.persist(CACHE_LEVEL)

    # term_stats is the query-time idf dictionary: vocab-sized (small), hit
    # by every query — keep it hot so a query never re-aggregates postings.
    term_stats = postings_flat.groupBy("term").agg(
        F.count("*").alias("df"), F.sum("tf").alias("ttf")
    )
    term_stats.persist()

    stats = analyzed.agg(*doc_stats_aggs()).first()
    # `analyzed` is now materialized in the cache; its ordering-pass parent
    # is no longer needed
    if ordered_src is not None:
        ordered_src.unpersist()

    return InvertedIndex(
        doc_stats=doc_stats,
        postings_flat=postings_flat,
        term_stats=term_stats,
        n_docs=int(stats["n"]),
        sum_dl=int(stats["s"]),
        profile=profile,
        key_cols=tuple(key_cols),
        min_doc_id=stats["lo"],
        max_doc_id=stats["hi"],
        # doc-major term vectors come free from the cached analyze output:
        # MoreLikeThis fetches ONE doc's vector — a point lookup here, vs a
        # full scan of term-ordered postings (VERDICT r2 "what's wrong" #2)
        doc_vectors=analyzed.select("doc_id", "terms", "tfs"),
        _caches=[analyzed, postings_flat, term_stats],
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
    profile: str = "text_en",
    doc_id_col: str | None = None,
    doc_id_offset: int = 0,
    bucket_bits: int | None = None,
    write_flat: bool = False,
    write_doc_vectors: bool = False,
) -> "InvertedIndex":
    """The scale-path build: input table -> persistent index at ``path``
    with MINIMAL materialization (this is what bench/scaling measure):

    1. one fused Python stage (docid stamp + analyze + per-doc tf),
       persisted serialized for the fan-out below;
    2. ``doc_stats`` written (narrow);
    3. ONE shuffle: explode -> repartition(term, bucket) -> vectorized
       block encode -> ``postings_blocks`` written;
    4. ``term_stats`` derived from block METADATA (sum of per-block cnt /
       sum_tf — no second pass over postings);
    5. ``index_meta`` from a doc_stats aggregate.

    The flat postings table is NOT written by default — blocks are the
    canonical index; ``read_index`` reconstructs a flat view by decoding
    blocks when needed. Pass ``write_flat=True`` to also persist it (for
    the SQL-oracle/debug path at small scale).
    """
    from .block_postings import DEFAULT_BUCKET_BITS, encode_flat_to_blocks

    if bucket_bits is None:
        bucket_bits = DEFAULT_BUCKET_BITS
    spark = df.sparkSession
    key_cols = list(key_cols)

    if doc_id_col is None:
        analyzed = _stamp_and_analyze(df, text_col, key_cols, profile, doc_id_offset)
    else:
        analyzed = _analyze_with_ids(df, text_col, key_cols, doc_id_col, profile)
    ordered_src = getattr(analyzed, "_ordered_src", None)
    analyzed = analyzed.withColumn("dl_quant", quantize_dl_col(F.col("dl")))
    analyzed.persist(CACHE_LEVEL)

    analyzed.drop("terms", "tfs").write.mode("overwrite").parquet(f"{path}/doc_stats")
    if ordered_src is not None:  # analyzed is materialized by the write
        ordered_src.unpersist()
    doc_stats = spark.read.parquet(f"{path}/doc_stats")
    stats = doc_stats.agg(*doc_stats_aggs()).first()
    n_docs, sum_dl = int(stats["n"]), int(stats["s"])
    avgdl = sum_dl / n_docs if n_docs else 0.0

    flat = analyzed.select(
        "doc_id", "dl",
        F.explode(F.arrays_zip("terms", "tfs")).alias("p"),
    ).select(
        F.col("p.terms").alias("term"),
        "doc_id",
        F.col("p.tfs").cast("long").alias("tf"),
        "dl",
    )
    # encoder output is already hash-grouped by (term, bucket) and sorted
    # within partitions — write directly, no second shuffle (parquet
    # row-group min/max on term still prunes query-term scans)
    blocks = encode_flat_to_blocks(
        flat, avgdl, bucket_bits=bucket_bits, k1=K1_DEFAULT, b=B_DEFAULT
    )
    blocks.write.mode("overwrite").parquet(f"{path}/postings_blocks")
    blocks_r = spark.read.parquet(f"{path}/postings_blocks")

    term_stats = blocks_r.groupBy("term").agg(
        F.sum("cnt").cast("long").alias("df"), F.sum("sum_tf").alias("ttf")
    )
    term_stats.write.mode("overwrite").parquet(f"{path}/term_stats")

    if write_flat:
        flat.withColumn("dl_quant", quantize_dl_col(F.col("dl"))).select(
            "term", "doc_id", "tf", "dl", "dl_quant"
        ).write.mode("overwrite").parquet(f"{path}/postings_flat")

    if write_doc_vectors:
        # doc-major forward index (MoreLikeThis term-vector point lookups):
        # range-partitioned + sorted by doc_id so a doc_id predicate prunes
        # to one file / row group instead of scanning term-ordered postings
        (
            analyzed.select("doc_id", "terms", "tfs")
            .repartitionByRange("doc_id")
            .sortWithinPartitions("doc_id")
            .write.mode("overwrite")
            .parquet(f"{path}/doc_vectors")
        )

    write_meta_file(
        spark,
        path,
        {
            "n_docs": str(n_docs),
            "sum_dl": str(sum_dl),
            "profile": profile,
            "key_cols": ",".join(key_cols),
            "impacts_avgdl": repr(avgdl),
            "impact_k1": repr(float(K1_DEFAULT)),
            "impact_b": repr(float(B_DEFAULT)),
            "bucket_bits": str(bucket_bits),
            **doc_id_range_meta(stats["lo"], stats["hi"]),
        },
    )
    analyzed.unpersist()
    return read_index(spark, path)


def doc_id_range_meta(lo: "int | None", hi: "int | None") -> dict:
    """``index_meta`` keys for the doc-id range (none for an empty index)."""
    if lo is None or hi is None:
        return {}
    return {"min_doc_id": str(int(lo)), "max_doc_id": str(int(hi))}


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


def write_index(
    index: InvertedIndex, path: str, write_flat: "bool | None" = None
) -> None:
    """Persist the index tables as parquet dirs (Iceberg tables when a
    catalog is configured — same writer API via ``writeTo``).

    ``write_flat``: whether to also persist the flat postings table.
    Default (None) writes it ONLY when the index has no block postings —
    blocks are the canonical representation (Lucene segments store one
    postings format, not two); persisting both costs 3-5x write/storage
    amplification per segment at scale. ``read_index`` reconstructs a
    flat view from blocks on read."""
    if write_flat is None:
        write_flat = index.postings_blocks is None
    if not write_flat and index.postings_blocks is None:
        raise ValueError(
            "write_flat=False requires block postings (the index would "
            "persist no postings at all); run build_block_postings first"
        )
    index.doc_stats.write.mode("overwrite").parquet(f"{path}/doc_stats")
    if write_flat:
        index.postings_flat.write.mode("overwrite").parquet(f"{path}/postings_flat")
    index.term_stats.write.mode("overwrite").parquet(f"{path}/term_stats")
    if index.deletes is not None:
        # durable deletion vector (Lucene .liv analog): reload must not
        # resurrect deleted docs
        index.deletes.select("doc_id").coalesce(1).write.mode("overwrite").parquet(
            f"{path}/deletes"
        )
    if index.postings_blocks is not None:
        from .block_postings import write_blocks

        write_blocks(index.postings_blocks, f"{path}/postings_blocks")
    meta = {
        "n_docs": str(index.n_docs),
        "sum_dl": str(index.sum_dl),
        "profile": index.profile,
        "key_cols": ",".join(index.key_cols),
    }
    if index.impacts_avgdl is not None:
        meta["impacts_avgdl"] = repr(float(index.impacts_avgdl))
    if index.impact_k1 is not None:
        meta["impact_k1"] = repr(float(index.impact_k1))
        meta["impact_b"] = repr(float(index.impact_b))
    if index.bucket_bits is not None:
        meta["bucket_bits"] = str(int(index.bucket_bits))
    meta.update(doc_id_range_meta(index.min_doc_id, index.max_doc_id))
    write_meta_file(index.doc_stats.sparkSession, path, meta)


def read_index(spark: SparkSession, path: str) -> InvertedIndex:
    meta = read_meta_file(spark, path)
    if meta is None:  # legacy layout: parquet key/value directory
        meta = {
            r["key"]: r["value"]
            for r in spark.read.parquet(f"{path}/index_meta").collect()
        }
    try:  # optional component; works on any Hadoop-compatible filesystem
        blocks = spark.read.parquet(f"{path}/postings_blocks")
    except Exception:
        blocks = None
    try:
        deletes = spark.read.parquet(f"{path}/deletes").select("doc_id").distinct()
    except Exception as e:
        # ONLY path-missing means "no deletes". A transient/corrupt read
        # must propagate — treating it as empty would silently resurrect
        # deleted docs (the same trap as a swallowed manifest error).
        msg = str(e)
        if "PATH_NOT_FOUND" in msg or "Path does not exist" in msg:
            deletes = None
        else:
            raise
    doc_stats = spark.read.parquet(f"{path}/doc_stats")
    flat_from_blocks = False
    try:
        postings_flat = spark.read.parquet(f"{path}/postings_flat")
    except Exception:
        # blocks-only index: flat view = lazy decode of the canonical
        # blocks, with exact dl re-joined from doc_stats. Term-restricted
        # access goes through flat_terms(), which filters the blocks scan
        # BEFORE the decode.
        from .block_postings import decode_blocks_to_flat

        if blocks is None:
            raise
        postings_flat = decode_blocks_to_flat(blocks).join(
            doc_stats.select("doc_id", "dl"), "doc_id"
        ).select("term", "doc_id", "tf", "dl", "dl_quant")
        flat_from_blocks = True
    try:  # optional doc-major forward index (write_doc_vectors=True)
        doc_vectors = spark.read.parquet(f"{path}/doc_vectors")
    except Exception:
        doc_vectors = None
    return InvertedIndex(
        postings_blocks=blocks,
        doc_stats=doc_stats,
        postings_flat=postings_flat,
        term_stats=spark.read.parquet(f"{path}/term_stats"),
        n_docs=int(meta["n_docs"]),
        sum_dl=int(meta["sum_dl"]),
        profile=meta["profile"],
        key_cols=tuple(meta["key_cols"].split(",")) if meta["key_cols"] else (),
        deletes=deletes,
        doc_vectors=doc_vectors,
        impacts_avgdl=(
            float(meta["impacts_avgdl"]) if "impacts_avgdl" in meta else None
        ),
        impact_k1=float(meta["impact_k1"]) if "impact_k1" in meta else None,
        impact_b=float(meta["impact_b"]) if "impact_b" in meta else None,
        bucket_bits=int(meta["bucket_bits"]) if "bucket_bits" in meta else None,
        min_doc_id=int(meta["min_doc_id"]) if "min_doc_id" in meta else None,
        max_doc_id=int(meta["max_doc_id"]) if "max_doc_id" in meta else None,
        flat_from_blocks=flat_from_blocks,
    )
