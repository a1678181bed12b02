"""Log-structured segments, lineage manifest, resume, and compaction.

The reference's crawl lifecycle — tracker counters, completion barrier,
commit (``SolrSemanticIndexer.java:92-94,102-166``; ``tracker/
IndexingTracker.java:19-35,109-128``) and Lucene's internal segment merging
— maps to an explicit log-structured index here (SURVEY §4.1 "index
structure maintenance", north_rule "resumable from checkpoint with
per-partition lineage + metrics"):

* ``append_segment(key, df)`` builds one index segment for one input slice
  (a crawl page range / ingest batch) with ``build_and_write_index`` — the
  same pipeline as every other build, so a segment directory is an
  ordinary block-only index. Doc ids continue from the previous segment's
  end, so the global id order is arrival order of segments, and
  (conv_id, turn_idx) order within a segment. Every segment shares one
  encoding (analyzer profile, bucket width, BM25 k1/b): an append inherits
  it from the manifest and rejects a conflicting value before writing.
* A parquet ``manifest`` table records one row per completed segment:
  rows, doc-id offset, token counts, wall seconds, an order-independent
  xxhash64 content checksum, per-stage throughput — lineage + metrics.
  A segment is written BEFORE its manifest row (write-ahead order), so a
  crash leaves at worst an orphan directory, never a manifest entry
  pointing at missing data. Re-running ``append_segment`` with a key the
  manifest already contains SKIPS the build entirely — no re-tokenization
  of completed partitions (resume test in tests/test_segments.py). On
  Iceberg the manifest append becomes an atomic snapshot commit; on a
  plain filesystem it is a parquet append into its own directory.
* ``read_segmented_index`` exposes the union of live segments as one
  logical InvertedIndex (term_stats re-aggregated; block postings
  unioned — valid because segment doc-ranges are disjoint and ascending).
  Block postings are the only postings a segment stores.
* ``compact`` is the LSM merge: segments' block postings become one
  segment. Only (term, bucket) groups that span MULTIPLE segments (the
  bucket cut by a segment boundary, or undersized tail blocks) are
  decoded and re-encoded; single-segment groups are copied through
  without touching the binary payload — the merge job's shuffle is
  proportional to the overlap, not the index size.
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from typing import Sequence

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.similarity import B_DEFAULT, K1_DEFAULT
from .block_postings import (
    BLOCKS_SCHEMA,
    DEFAULT_BUCKET_BITS,
    term_stats_from_blocks,
    write_blocks,
)
from .build import (
    DEFAULT_PROFILE,
    InvertedIndex,
    build_and_write_index,
    doc_stats_aggs,
    hadoop_delete,
    hadoop_list_dirs,
    index_meta,
    read_parquet_or_none,
    write_meta_file,
)

MANIFEST_SCHEMA = (
    "segment_key string, segment_dir string, n_docs long, doc_id_offset long, "
    "sum_dl long, n_terms long, wall_s double, docs_per_sec double, "
    "checksum long, profile string, bucket_bits int, created_ts double, "
    # avgdl the segment's block impacts were ENCODED with. For a fresh
    # segment this equals sum_dl/n_docs, but after compact applies deletes
    # the stored n_docs/sum_dl are post-delete while the passthrough
    # impacts keep their encode-time avgdl — WAND needs the encode value
    # to keep its bounds valid (see bm25_topk_wand's ub_scale).
    "impacts_avgdl double, "
    # EXCLUSIVE upper bound of the doc-id range this segment row owns.
    # For a fresh append this is offset + n_docs; for a compacted row it
    # is the max over its SOURCE segments — compact applies deletes (so
    # n_docs shrinks) while the surviving docs KEEP their original ids,
    # so sum(n_docs) undercounts the exhausted id space and a later
    # append would reuse live ids (silent corruption: joins merge
    # distinct docs, deletes hit both). The watermark records the
    # exhausted range explicitly.
    "next_doc_id long, "
    # k1/b the block impacts were ENCODED with: the folded max_impact is
    # only a valid WAND bound under the same similarity parameters, so
    # they are part of the encoding contract — uniform across segments
    # (checked like bucket_bits) and validated at query time.
    "impact_k1 double, impact_b double"
)


def _manifest_path(path: str) -> str:
    return f"{path}/manifest"


def read_manifest(spark: SparkSession, path: str) -> pd.DataFrame:
    # mergeSchema: manifests written before next_doc_id existed union
    # cleanly with rows that carry it (nulls backfilled). Only a missing
    # path means "fresh index": a corrupt read propagates, since an empty
    # manifest would restart doc_id_offset at 0 and append overlapping ids.
    man = read_parquet_or_none(
        spark.read.option("mergeSchema", "true"), _manifest_path(path)
    )
    if man is None:
        return pd.DataFrame(
            columns=[f.split()[0] for f in MANIFEST_SCHEMA.split(", ")]
        )
    return man.orderBy("doc_id_offset").toPandas()


def _require_uniform_bucket_bits(man: pd.DataFrame, op: str) -> int:
    """bucket_id = doc_id >> bucket_bits is only coherent across segments
    that agree on bucket_bits; merging mixed widths silently mis-groups
    postings and corrupts WAND bounds."""
    vals = man["bucket_bits"].unique()
    if len(vals) != 1:
        raise ValueError(
            f"{op}: segments were built with differing bucket_bits "
            f"{sorted(int(v) for v in vals)}; rebuild or compact per width"
        )
    return int(vals[0])


def _require_uniform_impact_params(man: pd.DataFrame, op: str):
    """The folded block impacts are only mergeable/queryable under ONE
    (k1, b); mixing parameters across segments silently invalidates WAND
    bounds. Returns (k1, b), or None for pre-upgrade manifests that never
    recorded them (their encodes all used the library defaults)."""
    if "impact_k1" not in man.columns:
        return None
    pairs = {
        (float(r["impact_k1"]), float(r["impact_b"]))
        for _, r in man.iterrows()
        if not pd.isna(r["impact_k1"])
    }
    if not pairs:
        return None
    if len(pairs) != 1:
        raise ValueError(
            f"{op}: segments were encoded with differing BM25 parameters "
            f"{sorted(pairs)}; re-encode to one (k1, b) before merging"
        )
    return next(iter(pairs))


def _segment_encoding(man: pd.DataFrame, op: str, **asked) -> dict:
    """The encoding every segment of one index shares — analyzer
    ``profile``, ``bucket_bits``, and the ``k1``/``b`` folded into block
    impacts — resolved for a new segment. On a fresh index a None in
    ``asked`` takes the library default. Otherwise None inherits the
    manifest's value, and an explicit value that differs raises here,
    before anything is written: a mismatched segment would make every
    later read and compact raise, or analyze queries with the wrong
    profile."""
    if not len(man):
        defaults = {"profile": DEFAULT_PROFILE, "bucket_bits": DEFAULT_BUCKET_BITS,
                    "k1": K1_DEFAULT, "b": B_DEFAULT}
        return {k: defaults[k] if v is None else v for k, v in asked.items()}
    k1, b = _require_uniform_impact_params(man, op) or (K1_DEFAULT, B_DEFAULT)
    have = {
        # read_segmented_index analyzes queries with the first row's profile
        "profile": str(man["profile"].iloc[0]),
        "bucket_bits": _require_uniform_bucket_bits(man, op),
        "k1": k1,
        "b": b,
    }
    for name, value in asked.items():
        if value is not None and value != have[name]:
            what = (
                f"encoded impacts with (k1, b)={(k1, b)}"
                if name in ("k1", "b")
                else f"use {name}={have[name]!r}"
            )
            raise ValueError(
                f"{op}: existing segments {what}; got {name}={value!r}. "
                f"Pass {name}=None to inherit it"
            )
    return have


def _doc_id_watermark(man: pd.DataFrame) -> int:
    """First doc id NOT yet owned by any manifest row: max of the
    recorded ``next_doc_id`` watermarks, falling back per-row to
    ``doc_id_offset + n_docs`` for manifests written before the column
    existed (exact for fresh appends; legacy compacted rows predate the
    bug fix and keep their recorded extent)."""
    if not len(man):
        return 0
    derived = man["doc_id_offset"].astype("int64") + man["n_docs"].astype("int64")
    if "next_doc_id" in man.columns:
        w = man["next_doc_id"].astype("float64").fillna(derived.astype("float64"))
        return int(w.max())
    return int(derived.max())


def _enc_avgdls(man: pd.DataFrame) -> pd.Series:
    """Per-segment avgdl the block impacts were encoded with: the recorded
    ``impacts_avgdl`` when present, else the fresh-segment identity
    sum_dl/n_docs (manifests written before the column existed)."""
    derived = man["sum_dl"].astype(float) / man["n_docs"].astype(float)
    if "impacts_avgdl" not in man.columns:
        return derived
    return man["impacts_avgdl"].astype(float).fillna(derived)


def _content_checksum(df: DataFrame, key_cols, text_col) -> int:
    """Order-independent lineage checksum: XOR of xxhash64 over rows
    (sum would overflow int64 under ANSI mode; keys are unique so XOR
    cancellation is not a concern)."""
    h = df.select(
        F.xxhash64(*[F.col(c) for c in key_cols], F.col(text_col)).alias("h")
    ).agg(F.expr("bit_xor(h)")).first()[0]
    return int(h if h is not None else 0)


@dataclass
class AppendResult:
    segment_key: str
    skipped: bool
    n_docs: int
    doc_id_offset: int


def append_segment(
    spark: SparkSession,
    path: str,
    segment_key: str,
    df: DataFrame,
    text_col: str = "text",
    key_cols=("conv_id", "turn_idx"),
    profile: "str | None" = None,
    bucket_bits: "int | None" = None,
    k1: "float | None" = None,
    b: "float | None" = None,
) -> AppendResult:
    """Build + commit one segment; no-op if ``segment_key`` is already in
    the manifest (checkpoint resume). ``profile``, ``bucket_bits``, ``k1``
    and ``b`` default to the index's encoding (``_segment_encoding``)."""
    man = read_manifest(spark, path)
    if len(man) and (man["segment_key"] == segment_key).any():
        row = man[man["segment_key"] == segment_key].iloc[0]
        return AppendResult(segment_key, True, int(row["n_docs"]), int(row["doc_id_offset"]))
    enc = _segment_encoding(
        man, "append_segment", profile=profile, bucket_bits=bucket_bits, k1=k1, b=b
    )

    # watermark, NOT sum(n_docs): after a compact applied deletes the
    # post-delete counts undercount the exhausted id range (see
    # MANIFEST_SCHEMA next_doc_id)
    offset = _doc_id_watermark(man)
    seg_dir = f"{path}/segments/{segment_key}"
    t0 = time.perf_counter()
    # segment data first (write-ahead), manifest row second
    idx = build_and_write_index(
        df, seg_dir, text_col=text_col, key_cols=key_cols, doc_id_offset=offset,
        **enc,
    )
    wall = time.perf_counter() - t0
    checksum = _content_checksum(df, list(key_cols), text_col)
    n_terms = idx.term_stats.count()
    row = [
        (
            segment_key, seg_dir, idx.n_docs, offset, idx.sum_dl,
            int(n_terms), float(wall),
            float(idx.n_docs / wall if wall else 0.0),
            checksum, enc["profile"], int(enc["bucket_bits"]), time.time(),
            float(idx.avgdl), offset + idx.n_docs,
            float(enc["k1"]), float(enc["b"]),
        )
    ]
    spark.createDataFrame(row, MANIFEST_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(_manifest_path(path))
    return AppendResult(segment_key, False, idx.n_docs, offset)


def _deletes_path(path: str) -> str:
    return f"{path}/deletes"


def record_deletes(spark: SparkSession, path: str, doc_ids: DataFrame) -> None:
    """Durably append delete-by-query results (doc_id rows) to the
    segmented index root. Doc ids are global across segments (offsets are
    contiguous), so one root-level deletion vector covers them all —
    Lucene's ``.liv`` live-docs file made explicit. ``compact`` physically
    drops the docs and clears the vector. Each batch is stamped with its
    commit time so snapshot reads (``read_segmented_index(as_of=...)``)
    can exclude deletes that postdate the snapshot."""
    doc_ids.select("doc_id").distinct().withColumn(
        "deleted_ts", F.lit(float(time.time()))
    ).coalesce(1).write.mode("append").parquet(_deletes_path(path))


def read_deletes(
    spark: SparkSession, path: str, as_of: float | None = None
) -> DataFrame | None:
    raw = read_parquet_or_none(
        spark.read.option("mergeSchema", "true"), _deletes_path(path)
    )
    if raw is None:
        return None
    if as_of is not None:
        if "deleted_ts" in raw.columns:
            # pre-timestamp layouts have null deleted_ts -> treat as
            # predating every snapshot (they did, by construction)
            raw = raw.filter(
                F.col("deleted_ts").isNull() | (F.col("deleted_ts") <= as_of)
            )
    return raw.select("doc_id").distinct()


def read_segmented_index(
    spark: SparkSession,
    path: str,
    as_of: float | None = None,
    upto_segment: str | None = None,
) -> InvertedIndex:
    """Union of committed segments as one logical index.

    Snapshot reads (Iceberg-snapshot semantics on the append-only
    manifest — each manifest row is a commit): ``as_of`` restricts to
    segments committed at or before that unix timestamp AND deletes
    recorded at or before it; ``upto_segment`` restricts to the manifest
    prefix ending at the named segment key (inclusive, manifest order).
    Because the manifest and the delete log are both append-only, every
    historical state remains readable until a ``compact`` rewrites it —
    exactly Iceberg time travel over snapshots until expiration."""
    man = read_manifest(spark, path)
    if not len(man):
        raise ValueError(f"no committed segments under {path}")
    if as_of is not None:
        man = man[man["created_ts"] <= as_of]
        if not len(man):
            raise ValueError(f"no segments committed at or before {as_of}")
    if upto_segment is not None:
        keys = list(man["segment_key"])
        if upto_segment not in keys:
            raise ValueError(
                f"segment {upto_segment!r} not in manifest (have {keys})"
            )
        man = man.iloc[: keys.index(upto_segment) + 1]
        if as_of is None:
            # state just after that segment's commit: deletes recorded
            # later are not part of this snapshot either
            as_of = float(man["created_ts"].iloc[-1])
    _require_uniform_bucket_bits(man, "read_segmented_index")
    dirs = list(man["segment_dir"])
    doc_stats = spark.read.parquet(*[f"{d}/doc_stats" for d in dirs])
    blocks = read_parquet_or_none(
        spark.read, *[f"{d}/postings_blocks" for d in dirs]
    )
    if blocks is None:
        raise ValueError(
            f"a segment under {path} has no postings_blocks: block postings "
            "are the only postings format; rebuild the segment"
        )
    term_stats = (
        spark.read.parquet(*[f"{d}/term_stats" for d in dirs])
        .groupBy("term")
        .agg(F.sum("df").alias("df"), F.sum("ttf").alias("ttf"))
    )
    term_stats.persist()
    profile = str(man["profile"].iloc[0])
    key_cols_df = [c for c in doc_stats.columns if c not in ("doc_id", "dl", "dl_quant")]
    enc_params = _require_uniform_impact_params(man, "read_segmented_index")
    idx = InvertedIndex(
        doc_stats=doc_stats,
        postings_blocks=blocks,
        term_stats=term_stats,
        n_docs=int(man["n_docs"].sum()),
        sum_dl=int(man["sum_dl"].sum()),
        profile=profile,
        # natural key columns ONLY (doc_id is the engine-internal id, not
        # part of the key) — matching build_index/read_index's contract
        key_cols=tuple(key_cols_df),
        deletes=read_deletes(spark, path, as_of=as_of),
        bucket_bits=_require_uniform_bucket_bits(man, "read_segmented_index"),
        # each segment encoded impacts with its OWN avgdl; the MINIMUM over
        # segments makes WAND's ub_scale = avgdl_q/impacts_avgdl at least
        # as large as any single segment requires (conservative, valid)
        impacts_avgdl=float(_enc_avgdls(man).min()),
        impact_k1=enc_params[0] if enc_params else None,
        impact_b=enc_params[1] if enc_params else None,
        # segments own disjoint id ranges from their offset up to the
        # watermark; the union's range bounds every live doc id
        min_doc_id=int(man["doc_id_offset"].min()),
        max_doc_id=_doc_id_watermark(man) - 1,
        # register the persisted frame so release() can free it (one
        # leaked cache per read otherwise in micro-batch loops)
        _caches=[term_stats],
    )
    return idx


def compact(
    spark: SparkSession,
    path: str,
    out_key: str | None = None,
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
) -> str:
    """LSM merge of all committed segments into one, APPLYING the durable
    deletion vector (Lucene merge semantics, ``SolrAdminActions.java:268``
    delete + commit made physical): deleted docs are dropped from every
    table, corpus stats (N, sum_dl, df, ttf) shrink accordingly, and the
    deletion vector is cleared. Returns the new segment dir.

    Only (term, bucket) groups present in >1 segment — or whose bucket
    contains a deleted doc — are decoded and re-encoded; every other block
    row is copied through without touching the binary payload, so the
    merge shuffle is proportional to overlap + delete spread, not index
    size."""
    import numpy as np

    from ..functions.codec import decode_block

    man = read_manifest(spark, path)
    if len(man) < 1:
        raise ValueError("nothing to compact")
    # The output key MUST be new: reusing a live key (e.g. a second
    # compaction cycle writing 'compacted' again) makes Spark read
    # segments/<key>/postings_blocks while mode('overwrite') writes the
    # same path — 'Cannot overwrite a path that is also being read from',
    # or corruption if the lineage check is bypassed. Auto-generate a
    # fresh counter-suffixed key; fail fast on an explicit collision.
    existing = set(man["segment_key"])
    if out_key is None:
        n = 0
        while f"compacted_{n:04d}" in existing:
            n += 1
        out_key = f"compacted_{n:04d}"
    elif out_key in existing:
        raise ValueError(
            f"compact out_key {out_key!r} is already a live segment; "
            "pick a fresh key (reading and overwriting the same path "
            "corrupts the index)"
        )
    bucket_bits = _require_uniform_bucket_bits(man, "compact")
    enc = _require_uniform_impact_params(man, "compact")
    if enc is not None and (float(k1), float(b)) != enc:
        raise ValueError(
            f"compact: segments encoded impacts with (k1, b)={enc}; "
            f"re-encoding overlap with ({k1}, {b}) would mix WAND bound "
            "parameters in one output segment — pass the matching values"
        )
    dirs = list(man["segment_dir"])
    deletes = read_deletes(spark, path)
    if len(man) < 2 and deletes is None:
        raise ValueError("need >=2 segments or pending deletes to compact")
    # avgdl for re-encoded impacts: the PRE-delete global avgdl. Stored
    # n_docs/sum_dl shrink with the deletes, so the query-time avgdl can
    # rise above every encode-time value — the compacted manifest records
    # impacts_avgdl = min(source segments' encode avgdls) and WAND scales
    # its bounds by avgdl_q/impacts_avgdl to stay valid (the previous
    # claim that stale bounds "remain valid upper bounds either way" was
    # wrong exactly when deletes remove mostly-short docs).
    total_docs = float(man["n_docs"].sum())
    avgdl = float(man["sum_dl"].sum()) / total_docs if total_docs else 0.0
    impacts_avgdl = float(min(_enc_avgdls(man).min(), avgdl)) if total_docs else 0.0

    # deletion vector kept BUCKETED (never collected whole to the driver):
    # per-bucket sorted arrays joined onto only the re-encoded groups
    del_by_bucket = None
    if deletes is not None:
        del_by_bucket = (
            deletes.select(
                F.shiftright("doc_id", bucket_bits).alias("bucket_id"), "doc_id"
            )
            .groupBy("bucket_id")
            .agg(F.sort_array(F.collect_list("doc_id")).alias("_dels"))
        )

    blocks = spark.read.parquet(*[f"{d}/postings_blocks" for d in dirs]).withColumn(
        "_seg", F.regexp_extract(F.input_file_name(), r"segments/([^/]+)/", 1)
    )
    overlap = (
        blocks.groupBy("term", "bucket_id")
        .agg(F.countDistinct("_seg").alias("nseg"))
        .filter(F.col("nseg") > 1)
        .select("term", "bucket_id")
    )
    if deletes is not None:
        del_buckets = deletes.select(
            F.shiftright("doc_id", bucket_bits).alias("bucket_id")
        ).distinct()
        touched = (
            # no broadcast hint: the touched-bucket set is bounded by
            # n_docs >> bucket_bits, which is NOT driver-small at the
            # 10^12-doc design point — AQE broadcasts it when it is
            blocks.join(del_buckets, "bucket_id", "left_semi")
            .select("term", "bucket_id")
            .distinct()
        )
        overlap = overlap.unionByName(touched).distinct()
    overlap.persist()

    passthrough = blocks.join(overlap, ["term", "bucket_id"], "left_anti").drop("_seg")

    # no broadcast hint on overlap: a spread-out delete vector can touch
    # most buckets, making overlap approach vocab x bucket-count rows —
    # let AQE pick broadcast only when the set is actually small (the
    # persisted frame gives it real statistics)
    to_reencode = blocks.join(overlap, ["term", "bucket_id"], "left_semi")
    if del_by_bucket is not None:
        to_reencode = to_reencode.join(del_by_bucket, "bucket_id", "left")

    def reencode_partition(batches):
        """Decode a whole shuffle partition of block rows to flat posting
        arrays, drop deleted docs with ONE np.isin (doc ids are globally
        unique, so the partition's pooled delete set is exact), and
        re-encode through ``encode_block_batch`` — the SAME
        whole-array kernel the original build uses. Earlier shapes paid
        per-group overhead that dominated exactly when a spread-out
        delete vector forced a full-index re-encode: one applyInPandas
        task per (term, bucket) was 8x slower than the build; a pandas
        groupby inside mapInPandas still spent ~0.4 ms/group building a
        DataFrame per group (~70k groups -> ~30 s at sf0.01). This path
        is a per-block decode loop plus whole-partition NumPy, matching
        build-encode throughput."""
        import pyarrow as pa
        import pyarrow.compute  # noqa: F401 — pa.compute is NOT auto-imported

        from ..functions.codec import encode_block_batch

        batches = [bt for bt in batches if bt.num_rows]
        if not batches:
            return
        tbl = pa.Table.from_batches(batches)
        # 64-bit offsets BEFORE combining: a partition's pooled
        # doc/tf/norm bytes can exceed binary's 2 GiB int32-offset
        # capacity on a full-index compact with few shuffle partitions;
        # with plain binary, combine_chunks either raises or (worse)
        # keeps >1 chunk and the chunk(0) reads below would silently
        # drop the tail rows. large_* always combines into one chunk.
        for ci, fname in enumerate(tbl.column_names):
            t = tbl.schema.field(fname).type
            if pa.types.is_binary(t):
                big = pa.large_binary()
            elif pa.types.is_string(t):
                big = pa.large_string()
            elif pa.types.is_list(t):
                big = pa.large_list(t.value_type)
            else:
                continue
            tbl = tbl.set_column(ci, fname, tbl.column(fname).cast(big))
        tbl = tbl.combine_chunks()
        if any(tbl.column(c).num_chunks != 1 for c in tbl.column_names):
            raise RuntimeError(
                "compact re-encode: combine_chunks left a multi-chunk "
                "column; raise SPARK_SHUFFLE_PARTITIONS for this index size"
            )
        dict_arr = pa.compute.dictionary_encode(tbl.column("term").chunk(0))
        tidx = dict_arr.indices.to_numpy()
        vocab = dict_arr.dictionary
        buckets = tbl.column("bucket_id").chunk(0).to_numpy()
        first_docs = tbl.column("first_doc").chunk(0).to_numpy()
        db = tbl.column("doc_bytes").chunk(0)
        tb = tbl.column("tf_bytes").chunk(0)
        nb = tbl.column("norm_bytes").chunk(0)

        # pooled delete set: _dels repeats per bucket — take one row per
        # distinct bucket and flatten (ids never reused across buckets)
        del_set = np.empty(0, dtype=np.int64)
        if "_dels" in tbl.column_names:
            _, first_row = np.unique(buckets, return_index=True)
            taken = tbl.column("_dels").chunk(0).take(
                pa.array(first_row, type=pa.int64())
            )
            flat = pa.compute.list_flatten(taken).to_numpy(zero_copy_only=False)
            if flat.size:
                del_set = np.unique(flat.astype(np.int64))

        n = len(tidx)
        docs_l, tfs_l, norms_l = [], [], []
        counts = np.empty(n, dtype=np.int64)
        for i in range(n):
            d, t, m = decode_block(
                int(first_docs[i]), db[i].as_py(), tb[i].as_py(), nb[i].as_py()
            )
            docs_l.append(d)
            tfs_l.append(t)
            norms_l.append(m)
            counts[i] = len(d)
        docs = np.concatenate(docs_l)
        tfs = np.concatenate(tfs_l)
        norms = np.concatenate(norms_l)
        # rows are sorted by (term, bucket, first_doc) so groups are
        # contiguous; a stable doc sort WITHIN each group (segments can in
        # principle interleave doc ranges) via lexsort on (doc, group id)
        row_gid = np.zeros(n, dtype=np.int64)
        if n > 1:
            row_gid[1:] = np.cumsum(
                (tidx[1:] != tidx[:-1]) | (buckets[1:] != buckets[:-1])
            )
        gid = np.repeat(row_gid, counts)
        term_rep = np.repeat(tidx, counts)
        buck_rep = np.repeat(buckets, counts)
        order = np.lexsort((docs, gid))
        docs, tfs, norms = docs[order], tfs[order], norms[order]
        term_rep, buck_rep = term_rep[order], buck_rep[order]
        if del_set.size:
            keep = ~np.isin(docs, del_set)
            docs, tfs, norms = docs[keep], tfs[keep], norms[keep]
            term_rep, buck_rep = term_rep[keep], buck_rep[keep]
        if not docs.size:
            return
        yield encode_block_batch(
            term_rep, vocab, buck_rep, docs, tfs, norms, avgdl, k1, b
        )

    merged = (
        to_reencode.repartition("term", "bucket_id")
        .sortWithinPartitions("term", "bucket_id", "first_doc")
        .mapInArrow(reencode_partition, BLOCKS_SCHEMA)
    )

    out_dir = f"{path}/segments/{out_key}"
    write_blocks(passthrough.unionByName(merged), f"{out_dir}/postings_blocks")
    blocks_r = spark.read.parquet(f"{out_dir}/postings_blocks")

    def _minus_deleted(df: DataFrame) -> DataFrame:
        if deletes is None:
            return df
        # no broadcast hint: the delete set can exceed driver/executor
        # broadcast comfort at scale — let AQE pick the join strategy
        return df.join(deletes, "doc_id", "left_anti")

    # relational tables: unions minus the deletion vector; term stats from
    # the merged block METADATA (post-delete df/ttf, no pass over postings)
    _minus_deleted(
        spark.read.parquet(*[f"{d}/doc_stats" for d in dirs])
    ).write.mode("overwrite").parquet(f"{out_dir}/doc_stats")
    term_stats_from_blocks(blocks_r).write.mode("overwrite").parquet(
        f"{out_dir}/term_stats"
    )
    doc_stats_r = spark.read.parquet(f"{out_dir}/doc_stats")
    stats = doc_stats_r.agg(*doc_stats_aggs()).first()
    n_docs, sum_dl = int(stats["n"]), int(stats["s"])
    write_meta_file(spark, out_dir, index_meta(InvertedIndex(
        doc_stats=doc_stats_r,
        postings_blocks=blocks_r,
        term_stats=spark.read.parquet(f"{out_dir}/term_stats"),
        n_docs=n_docs,
        sum_dl=sum_dl,
        profile=str(man["profile"].iloc[0]),
        bucket_bits=bucket_bits,
        impacts_avgdl=impacts_avgdl,
        impact_k1=float(k1),
        impact_b=float(b),
        min_doc_id=stats["lo"],
        max_doc_id=stats["hi"],
    )))

    # new manifest: single compacted row. The checksum stays the XOR of the
    # source-segment input checksums — lineage/provenance of what was
    # ingested, not of the post-delete state. next_doc_id carries the
    # SOURCE watermark forward: surviving docs keep their original ids, so
    # the whole pre-delete range stays exhausted and the next append must
    # start past it (ADVICE r3 high: sum(n_docs) would hand out live ids).
    row = [
        (
            out_key, out_dir, n_docs, 0, sum_dl, -1,
            0.0, 0.0, int(np.bitwise_xor.reduce(man["checksum"].to_numpy(dtype=np.int64))),
            str(man["profile"].iloc[0]), bucket_bits,
            time.time(), impacts_avgdl, _doc_id_watermark(man),
            float(k1), float(b),
        )
    ]
    spark.createDataFrame(row, MANIFEST_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(_manifest_path(path))
    overlap.unpersist()
    if deletes is not None:
        # applied physically -> clear the vector (Lucene drops .liv on
        # merge) — through the Hadoop FS API so HDFS/S3 index paths clear
        # too (a local rmtree would no-op there and maybe_compact's
        # deletes-pending trigger would re-fire forever)
        hadoop_delete(spark, _deletes_path(path))
    return out_dir


def update_documents(
    spark: SparkSession,
    path: str,
    segment_key: str,
    new_docs: DataFrame,
    match_on: Sequence[str] = ("conv_id", "turn_idx"),
    text_col: str = "text",
    key_cols=("conv_id", "turn_idx"),
    profile: "str | None" = None,
    bucket_bits: "int | None" = None,
) -> AppendResult:
    """Solr update-by-uniqueKey semantics (re-adding a doc with an
    existing id replaces it; the reference's whole pipeline relies on
    this — re-running a crawl overwrites by ``id``): expressed natively
    on the log-structured index as APPEND the new slice as a segment,
    THEN record the old rows in the durable deletion vector. Commit order
    matters for crash safety: appending first means a crash between the
    two steps leaves a brief old+new overlap (recoverable — re-running
    the same call skips the append and re-records the deletes), whereas
    deleting first would durably drop the documents with no replacement.
    The victim scan is bounded to ``doc_id < offset`` of the new segment
    so a resumed run never deletes the replacement docs it just added.
    ``compact`` later drops the old versions physically. The new segment
    inherits the index's encoding (``append_segment``); an explicit
    ``profile``/``bucket_bits`` that conflicts raises before any write."""
    res = append_segment(
        spark, path, segment_key, new_docs,
        text_col=text_col, key_cols=key_cols, profile=profile,
        bucket_bits=bucket_bits,
    )
    idx = read_segmented_index(spark, path)
    keys = new_docs.select(*match_on).distinct()
    victims = (
        idx.doc_stats.filter(F.col("doc_id") < res.doc_id_offset)
        .join(keys, list(match_on), "left_semi")
        .select("doc_id")
    )
    record_deletes(spark, path, victims)
    # the victim scan is materialized by record_deletes — free the
    # read handle's caches before returning (micro-batch hygiene)
    idx.release()
    return res


def gc_segments(spark: SparkSession, path: str) -> list[str]:
    """Remove segment directories no longer referenced by the manifest
    (compact leaves the source segments on disk as orphans — the
    reference's disabled orphan delete, ``SolrSemanticIndexer.java:113``,
    made explicit). Returns the removed paths. On Iceberg this is snapshot
    expiration; here it is a Hadoop-FileSystem sweep so HDFS/S3 index
    paths garbage-collect the same as local ones."""
    man = read_manifest(spark, path)
    live = {d.rstrip("/").rsplit("/", 1)[-1] for d in man["segment_dir"]}
    seg_root = f"{path}/segments"
    removed = []
    for name in hadoop_list_dirs(spark, seg_root):
        if name not in live:
            hadoop_delete(spark, f"{seg_root}/{name}")
            removed.append(f"{seg_root}/{name}")
    return removed


def get_by_key(
    spark: SparkSession,
    path: str,
    keys: "list[tuple]",
    key_cols=("conv_id", "turn_idx"),
) -> DataFrame:
    """Solr ``/get`` realtime get: fetch documents by natural (unique)
    key across every committed segment, minus the deletion vector —
    visible the moment ``append_segment`` commits its manifest row, with
    no separate refresh/commit step (the manifest append IS the commit,
    like Solr's update log making uncommitted docs fetchable).

    ``keys`` is a request-sized list of key tuples; the lookup is an OR
    of per-key conjunctions pushed into the doc_stats parquet scan — a
    point read per segment file, never a full-index pass. Returns the
    matching doc_stats rows (doc_id, key cols, dl, dl_quant)."""
    man = read_manifest(spark, path)
    if not len(man):
        raise ValueError(f"no committed segments under {path}")
    key_cols = list(key_cols)
    doc_stats = spark.read.parquet(
        *[f"{d}/doc_stats" for d in man["segment_dir"]]
    )
    if not keys:
        # Solr /get with no ids returns nothing — an empty request must
        # not degenerate into a full-corpus scan (pred stays None below)
        return doc_stats.limit(0)
    pred = None
    for kt in keys:
        kt = kt if isinstance(kt, (tuple, list)) else (kt,)
        conj = None
        for c, v in zip(key_cols, kt):
            term = F.col(c) == F.lit(v)
            conj = term if conj is None else (conj & term)
        pred = conj if pred is None else (pred | conj)
    if pred is not None:
        doc_stats = doc_stats.filter(pred)
    deletes = read_deletes(spark, path)
    if deletes is not None:
        doc_stats = doc_stats.join(deletes, "doc_id", "left_anti")
    return doc_stats


def maybe_compact(
    spark: SparkSession,
    path: str,
    max_segments: int = 8,
    out_key: str | None = None,
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
) -> "str | None":
    """Tiered merge policy, reduced to its essence (Lucene
    TieredMergePolicy's segment-count trigger): when the manifest holds
    more than ``max_segments`` live segments, merge them all with
    ``compact`` (applying deletes physically); otherwise do nothing.
    Call after each ``append_segment`` for a self-maintaining index —
    the amortized merge cost pattern of every LSM store. Returns the new
    segment dir when a merge ran, else None.

    Two triggers: segment count > ``max_segments``, OR a pending durable
    deletion vector (so recorded deletes are eventually applied
    physically and queries stop paying the anti-join/zeroing cost, even
    on an index that never accumulates many segments — compact clears
    the vector, so this trigger self-quiesces)."""
    man = read_manifest(spark, path)
    if len(man) <= max_segments and read_deletes(spark, path) is None:
        return None
    return compact(spark, path, out_key=out_key, k1=k1, b=b)
