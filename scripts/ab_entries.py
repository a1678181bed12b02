#!/usr/bin/env python3
"""Interleaved A/B of ``__spark_entry__.queries()`` entries between a git
ref and this tree.

For code that no ``perfbench`` workload runs, this script times entries
directly. It exports the ref with ``git archive`` into a temporary
directory, then for each pair runs one measuring process in that copy and
one in this tree, flipping which goes first from pair to pair. Each
process (``--measure``) starts a ``local[4]`` session with 8 shuffle
partitions and, for each entry named in ``--entries`` (in that order),
records

* ``first_s`` -- the first run (it also pays for building whatever index
  the entry reads first; later entries reuse the entry module's index
  cache);
* ``warm_s`` -- ``--reps`` further runs;
* ``jobs`` -- the Spark jobs of each warm run, counted through a job group;

each run collected. It prints the median over pairs of each entry's warm
p50 and of the summed first runs per tree, the median pair ratio (this
tree / ref), and the warm job counts.

Usage:
    python3 scripts/ab_entries.py --ref HEAD~1 --sf-dir DIR \\
        --entries bm25_topk_or,select_combined --pairs 10 --out ab.json
"""

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "scripts"))
from ab_perfbench import export_ref  # noqa: E402


def measure(tree: str, sf_dir: str, entries: "list[str]", reps: int) -> dict:
    sys.path.insert(0, tree)
    import __spark_entry__ as e
    from solr_sematic_importer_spark.session import get_spark

    spark = get_spark(
        "ab-entries", master="local[4]", shuffle_partitions=8,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    e._prepare(spark)
    sc = spark.sparkContext
    ops = e.queries()
    res = {"first_s": {}, "warm_s": {}, "jobs": {}}
    for name in entries:
        t0 = time.perf_counter()
        ops[name](spark, sf_dir).collect()
        res["first_s"][name] = time.perf_counter() - t0
        res["warm_s"][name], res["jobs"][name] = [], []
        for i in range(reps):
            group = f"ab-{name}-{i}"
            sc.setJobGroup(group, group)
            t0 = time.perf_counter()
            ops[name](spark, sf_dir).collect()
            res["warm_s"][name].append(time.perf_counter() - t0)
            sc.setLocalProperty("spark.jobGroup.id", None)
            res["jobs"][name].append(len(sc.statusTracker().getJobIdsForGroup(group)))
    spark.stop()
    return res


def figures(run: dict) -> dict:
    out = {"first_total_s": sum(run["first_s"].values())}
    out.update({f"{k}_warm_p50_s": statistics.median(v) for k, v in run["warm_s"].items()})
    return out


def run_once(tree: str, args) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--measure", tree,
         "--sf-dir", args.sf_dir, "--entries", args.entries, "--reps", str(args.reps)],
        cwd=tree, capture_output=True, text=True,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    if not lines:
        sys.stderr.write(proc.stdout[-3000:] + proc.stderr[-3000:])
        raise SystemExit(f"measuring run in {tree} printed no result")
    return json.loads(lines[-1])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--ref", help="git ref to compare against")
    ap.add_argument("--sf-dir", required=True, help="test-data directory the entries read")
    ap.add_argument("--entries", required=True, help="comma-separated queries() entry names")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--reps", type=int, default=5, help="warm runs per entry")
    ap.add_argument("--out", default=None, help="also write every run as JSON here")
    ap.add_argument("--measure", metavar="TREE", help=argparse.SUPPRESS)
    args = ap.parse_args()
    entries = [n for n in args.entries.split(",") if n]
    if args.measure:
        print(json.dumps(measure(args.measure, args.sf_dir, entries, args.reps)))
        return 0
    if not args.ref:
        ap.error("--ref is required")
    ref_tree = tempfile.mkdtemp(prefix="ab_entries_")
    try:
        export_ref(args.ref, ref_tree)
        pairs = []
        for i in range(args.pairs):
            order = ("ref", "head") if i % 2 == 0 else ("head", "ref")
            pair = {"first": order[0]}
            for side in order:
                pair[side] = run_once(ref_tree if side == "ref" else REPO, args)
            pairs.append(pair)
    finally:
        shutil.rmtree(ref_tree, ignore_errors=True)
    ref = [figures(p["ref"]) for p in pairs]
    head = [figures(p["head"]) for p in pairs]
    for k in ref[0]:
        r, h = [x[k] for x in ref], [x[k] for x in head]
        ratio = statistics.median(b / a for a, b in zip(r, h))
        print(f"{k}: median {statistics.median(r):.3f} -> {statistics.median(h):.3f} s, "
              f"median pair ratio {ratio:.3f}, head faster in {sum(b < a for a, b in zip(r, h))}/{len(r)}")
    for name in entries:
        print(f"{name} warm jobs: {pairs[0]['ref']['jobs'][name]} -> {pairs[0]['head']['jobs'][name]}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"ref": args.ref, "sf_dir": args.sf_dir, "entries": entries,
                       "pairs": pairs}, f, indent=1)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
