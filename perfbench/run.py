#!/usr/bin/env python3
"""Single-command benchmark of ``solr_sematic_importer_spark``.

    python3 perfbench/run.py --workload bulk_build --seed 1 --seconds 15 --trace 0

Run from the root of a source checkout; the workloads are ``bulk_build``,
``query_mix`` and ``segment_churn`` (see ``README.md``). Everything a run
writes -- the Spark session's scratch space, the indexes, the event log --
goes under ``.perfbench-run/work-<pid>/`` in the checkout and is deleted
before the run exits; a small JSON result per run is kept in
``.perfbench-run/results/``.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` the session also
writes Spark's event log and the metrics are the per-layer ones. The line
before it is the full report: host shape, provenance, the workload's own
figures with sample counts, and every failed check. The exit code is 0
only when every check held.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN_DIR = os.path.join(ROOT, ".perfbench-run")
RESULTS = os.path.join(RUN_DIR, "results")
DRIVER_MEMORY = "2g"
CHILD_TIMEOUT_S = 120


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("bulk_build", "query_mix", "segment_churn"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def import_engine() -> str:
    """Import the engine from this checkout, never from elsewhere."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    import solr_sematic_importer_spark as pkg

    where = os.path.dirname(os.path.abspath(pkg.__file__))
    if os.path.dirname(where) != ROOT:
        raise SystemExit(f"solr_sematic_importer_spark imported from {where}, not from {ROOT}")
    return where


def source_hash(pkg_dir: str) -> str:
    h = hashlib.blake2b(digest_size=8)
    for base, _dirs, files in sorted(os.walk(pkg_dir)):
        for fn in sorted(f for f in files if f.endswith(".py")):
            p = os.path.join(base, fn)
            h.update(os.path.relpath(p, pkg_dir).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def git_commit() -> "str | None":
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                         capture_output=True, text=True, check=False)
    return out.stdout.strip() or None


class Run:
    """What a workload needs: the session, spans, checks, paths and clock."""

    def __init__(self, spark, tracer, ledger, seed: int, seconds: float, data_dir: str):
        self.spark = spark
        self.tracer = tracer
        self.ledger = ledger
        self.seed = seed
        self.seconds = seconds
        self.data_dir = data_dir
        self.measure_t0 = self.measure_epoch = self.measure_end = None

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs)

    def path(self, name: str) -> str:
        return os.path.join(self.data_dir, name)

    def start_measuring(self) -> None:
        self.tracer.phase = "measure"
        self.measure_t0 = time.perf_counter()
        self.measure_epoch = time.time()

    def stop_measuring(self) -> None:
        self.tracer.phase = "probe"
        self.measure_end = time.time()

    def elapsed(self) -> float:
        return time.perf_counter() - self.measure_t0


def start_spark(tracer, work: str, nproc: int, trace: bool):
    """The session ``get_spark`` makes, sized to this host, with every
    scratch path inside ``work``; a traced run also writes an uncompressed
    event log there."""
    from solr_sematic_importer_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.setdefault("SPARK_DRIVER_MEMORY", DRIVER_MEMORY)
    # no JVM writes its perf-data file to the system temp dir
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    }
    if trace:
        events = os.path.join(work, "eventlog")
        os.makedirs(events)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
        })
    with tracer.span("session"):
        spark = get_spark("perfbench", master=f"local[{nproc}]",
                          shuffle_partitions=2 * nproc, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark() -> None:
    """Stop the session and wait for its JVM, and with it the Python
    workers the JVM forked, to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway exits at the end of its stdin
        proc.wait(timeout=120)


def untraced_reference(args) -> float:
    """Median unit-of-work time of an untraced run of this workload: the
    last one recorded in this checkout, or one run now."""
    ref = os.path.join(RESULTS, f"{args.workload}-untraced.json")
    if not os.path.exists(ref):
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
             "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"],
            cwd=ROOT, stdout=subprocess.DEVNULL, check=True, timeout=CHILD_TIMEOUT_S,
        )
    with open(ref, encoding="utf-8") as fh:
        return json.load(fh)["op_p50_s"]


def run_probes(run) -> dict:
    """Layers timed after the measured window of a traced run, each on a
    fixed input so the figures compare across workloads: doc-id assignment
    as its own Spark call, the driver-side analyzer and codec kernels, and
    one append/update/compaction cycle on a small segmented index."""
    import kernels
    from workloads import segments_probe

    from solr_sematic_importer_spark.operators.docid import assign_doc_ids
    from solr_sematic_importer_spark.sources.transcripts import synthetic_transcripts

    df = synthetic_transcripts(run.spark, kernels.SAMPLE_CONVS * 4, seed=kernels.KERNEL_SEED)
    with run.span("operators.docid"):
        assign_doc_ids(df).count()
    texts = kernels.sample_texts()
    with run.span("functions.analyzer"):
        analyzer = kernels.analyzer_turns_per_s(texts)
    with run.span("functions.codec"):
        encode, decode, exact = kernels.codec_postings_per_s(texts)
    run.ledger.record("codec round trip", {"decode(encode(x)) == x": exact})
    return {"analyzer": analyzer, "encode": encode, "decode": decode, **segments_probe(run)}


def layer_metrics(run, work: str, op_p50_s: float, probes: dict, reference_op_s: float):
    """-> (per-layer metrics, per-span-kind table of the measured window).

    ``op.*`` cover the workload's measured units of work; ``segments.*``
    come from the probe's cycle, so they compare across workloads."""
    from spans import Attribution, read_event_log

    jobs, tasks = read_event_log(os.path.join(work, "eventlog"))
    spans = run.tracer.spans
    att = Attribution(spans, jobs, tasks)
    med = statistics.median

    def m(value, unit):
        return {"value": value, "unit": unit}

    def picked(name, phase=None, **attrs):
        out = [att.of(s) for s in run.tracer.named(name)
               if phase in (None, s["phase"])
               and all(s["attrs"].get(k) == v for k, v in attrs.items())]
        if not out:
            raise RuntimeError(f"no {name} {attrs} span in the trace")
        return out

    def wall(name, phase=None, **attrs):
        return med(a["wall_s"] for a in picked(name, phase, **attrs))

    ops = [att.of(s) for s in spans if s["attrs"].get("op") and s["phase"] == "measure"]
    dfs = picked("operators.score")
    cold = [d["wall_s"] for d in dfs if d["jobs"]]
    warm = [d["wall_s"] for d in dfs if not d["jobs"]]
    if not cold or not warm:
        raise RuntimeError(f"term_dfs calls: {len(cold)} cold, {len(warm)} warm; need both")
    appends = picked("operators.segments", "probe", kind="append")
    measured = [s for s in spans if s["phase"] == "measure"]
    covered = sum(s["wall_s"] for s in measured if s["parent"] is None)
    metrics = {
        "session.start_s": m(wall("session"), "s"),
        "transcripts.gen_s": m(wall("sources.transcripts"), "s"),
        "analyzer.turns_per_s": m(probes["analyzer"], "1/s"),
        "codec.encode_postings_per_s": m(probes["encode"], "1/s"),
        "codec.decode_postings_per_s": m(probes["decode"], "1/s"),
        "docid.assign_s": m(wall("operators.docid"), "s"),
        "op.jobs": m(med(o["jobs"] for o in ops), "count"),
        "op.tasks": m(med(o["tasks"] for o in ops), "count"),
        "op.task_run_s": m(med(o["run_s"] for o in ops), "s"),
        "op.task_cpu_s": m(med(o["cpu_s"] for o in ops), "s"),
        "op.gc_share": m(sum(o["gc_s"] for o in ops) / sum(o["run_s"] for o in ops), "share"),
        "op.shuffle_write_bytes": m(med(o["shuffle_write_bytes"] for o in ops), "B"),
        "op.output_bytes": m(med(o["output_bytes"] for o in ops), "B"),
        "op.driver_gap_s": m(med(o["driver_gap_s"] for o in ops), "s"),
        "score.term_dfs_cold_s": m(med(cold), "s"),
        "score.term_dfs_warm_s": m(med(warm), "s"),
        "score.df_memo_hit_share": m(len(warm) / len(dfs), "share"),
        "segments.append_s": m(med(a["wall_s"] for a in appends), "s"),
        "segments.append_jobs": m(med(a["jobs"] for a in appends), "count"),
        "segments.append_task_run_s": m(med(a["run_s"] for a in appends), "s"),
        "segments.update_s": m(wall("operators.segments", "probe", kind="update"), "s"),
        "segments.record_deletes_s": m(
            wall("operators.segments", "probe", kind="record_deletes"), "s"),
        "segments.compact_s": m(
            wall("operators.segments", "probe", kind="maybe_compact", merged=True), "s"),
        "segments.compact_bytes_written": m(probes["compact_bytes_written"], "B"),
        "segments.read_s": m(wall("operators.segments", "probe", kind="read"), "s"),
        "segments.get_by_key_s": m(wall("operators.segments", "probe", kind="get_by_key"), "s"),
        "segments.live_segments": m(probes["live_segments"], "count"),
        "trace.span_coverage": m(covered / (run.measure_end - run.measure_epoch), "share"),
        "trace.overhead_share": m(op_p50_s / reference_op_s - 1.0, "share"),
    }
    groups: dict[str, list[dict]] = {}
    for s in measured:
        key = s["name"] + (f".{s['attrs']['kind']}" if "kind" in s["attrs"] else "")
        groups.setdefault(key, []).append(att.of(s))
    table = {
        key: {"n": len(rows), **{f: med(r[f] for r in rows) for f in rows[0]}}
        for key, rows in sorted(groups.items())
    }
    return metrics, {"untraced_op_p50_s": reference_op_s, "jobs_total": len(jobs),
                     "spans_by_kind": table}


def main(argv=None) -> int:
    args = parse_args(argv)
    pkg_dir = import_engine()
    import pyarrow
    import pyspark
    from spans import Tracer
    from workloads import WORKLOADS, Ledger

    from solr_sematic_importer_spark.operators import block_postings, score, segments

    nproc = len(os.sched_getaffinity(0))
    graft_cpus = os.environ.get("SPARK_GRAFT_CPUS")
    top_before = set(os.listdir(ROOT))
    reference = untraced_reference(args) if args.trace else None

    work = os.path.join(RUN_DIR, f"work-{os.getpid()}")
    os.makedirs(work)
    tracer, ledger = Tracer(), Ledger()
    t_start = time.perf_counter()
    try:
        spark = start_spark(tracer, work, nproc, bool(args.trace))
        if args.trace:
            tracer.sc = spark.sparkContext
            for mod in (block_postings, score):  # df lookups inside requests
                tracer.wrap(mod, "term_dfs", "operators.score")
            tracer.wrap(segments, "record_deletes", "operators.segments", kind="record_deletes")
        run = Run(spark, tracer, ledger, args.seed, args.seconds, os.path.join(work, "data"))
        result = WORKLOADS[args.workload](run)
        run.stop_measuring()
        probes = run_probes(run) if args.trace else None
        stop_spark()
        op_p50 = statistics.median(result["op_s"])
        if args.trace:
            metrics, layers = layer_metrics(run, work, op_p50, probes, reference)
    finally:
        stop_spark()
        shutil.rmtree(work, ignore_errors=True)

    setup_s = run.measure_t0 - t_start
    if not args.trace:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "op_p50_s": {"value": op_p50, "unit": "s"},
            "throughput_per_s": {"value": result["throughput_per_s"], "unit": "1/s"},
            "bytes_per_text_byte": {"value": result["bytes_per_text_byte"], "unit": "B/B"},
        }
    leaked = sorted(set(os.listdir(ROOT)) - top_before - {os.path.basename(RUN_DIR)})
    ledger.record("run hygiene", {
        "work dir removed": not os.path.exists(work),
        f"nothing new in the checkout: {leaked}": not leaked,
    })
    correct = ledger.failed == 0
    report = {
        "workload": args.workload,
        "trace": args.trace,
        "host": {
            "nproc": nproc,
            "ram_bytes": os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES"),
            "SPARK_GRAFT_CPUS": graft_cpus,
            "master": f"local[{nproc}]",
            "shuffle_partitions": 2 * nproc,
            "driver_memory": os.environ["SPARK_DRIVER_MEMORY"],
            "spark": pyspark.__version__,
            "pyarrow": pyarrow.__version__,
            "python": platform.python_version(),
        },
        "provenance": {
            "git_commit": git_commit(),
            "source_hash": source_hash(pkg_dir),
            "seed": args.seed,
            "seconds": args.seconds,
            "scratch": work,
        },
        "setup_s": setup_s,
        "failed_share": ledger.failed / ledger.attempted,
        "failures": ledger.failures,
        **result["report"],
    }
    if args.trace:
        report["layers"] = layers
    os.makedirs(RESULTS, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(RESULTS, name), "w", encoding="utf-8") as fh:
        json.dump({"report": report, "metrics": metrics, "spans": tracer.spans}, fh)
    if correct and not args.trace:
        with open(os.path.join(RESULTS, f"{args.workload}-untraced.json"), "w", encoding="utf-8") as fh:
            json.dump({"op_p50_s": op_p50, "seed": args.seed}, fh)
    print(json.dumps({"report": report}))
    print(json.dumps({
        "correct": correct,
        "attempted": ledger.attempted,
        "failed": ledger.failed,
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
