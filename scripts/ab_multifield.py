#!/usr/bin/env python3
"""Interleaved A/B of the multi-field build and queries between a git ref
and this tree.

The multi-field index is not a ``perfbench`` workload, so this script times
it directly. It exports the ref with ``git archive`` into a temporary
directory, then for each pair runs one measuring process in that copy and
one in this tree, flipping which goes first from pair to pair. Each
process (``--measure``) starts a ``local[4]`` session with 8 shuffle
partitions, builds ``__spark_entry__._mf_index`` over ``--sf-dir``, times

* ``build_s`` -- the ``_mf_index`` call;
* ``first_s`` -- the first run of each query below (it also pays for
  whatever the build left lazy);
* ``warm_s`` -- ``--reps`` further runs of each query;

for the three multi-field entries (``bm25_multifield``, ``bm25_dismax``,
``fielded_query``) and a fielded prefix and wildcard query, each collected.
It prints the median over pairs of each figure per tree and the pair
ratio (this tree / ref).

Usage:
    python3 scripts/ab_multifield.py --ref HEAD~1 --sf-dir DIR --pairs 10 --out ab.json
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


def measure(tree: str, sf_dir: str, reps: int) -> dict:
    sys.path.insert(0, tree)
    import __spark_entry__ as e
    from solr_sematic_importer_spark.operators.multifield import fielded_query_topk
    from solr_sematic_importer_spark.session import get_spark

    spark = get_spark(
        "ab-multifield", master="local[4]", shuffle_partitions=8,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    e._prepare(spark)
    t0 = time.perf_counter()
    mf = e._mf_index(spark, sf_dir)
    res = {"build_s": time.perf_counter() - t0, "first_s": {}, "warm_s": {}}
    ops = {
        "bm25_multifield": lambda: e.q_bm25_multifield(spark, sf_dir),
        "bm25_dismax": lambda: e.q_bm25_dismax(spark, sf_dir),
        "fielded_query": lambda: e.q_fielded_query(spark, sf_dir),
        "fielded_prefix": lambda: fielded_query_topk(mf, "title:mer*", e.MF_QF, k=10, quantize=False),
        "fielded_wildcard": lambda: fielded_query_topk(mf, "body:w?ndow", e.MF_QF, k=10, quantize=False),
    }
    for name, fn in ops.items():
        t0 = time.perf_counter()
        fn().collect()
        res["first_s"][name] = time.perf_counter() - t0
    for name, fn in ops.items():
        res["warm_s"][name] = []
        for _ in range(reps):
            t0 = time.perf_counter()
            fn().collect()
            res["warm_s"][name].append(time.perf_counter() - t0)
    spark.stop()
    return res


def figures(run: dict) -> dict:
    out = {"build_s": run["build_s"], "build_and_first_s": run["build_s"] + sum(run["first_s"].values())}
    out.update({f"{k}_warm_p50_s": statistics.median(v) for k, v in run["warm_s"].items()})
    return out


def run_once(tree: str, sf_dir: str, reps: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--measure", tree,
         "--sf-dir", sf_dir, "--reps", str(reps)],
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
    ap.add_argument("--sf-dir", required=True, help="test-data directory holding documents.parquet")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--reps", type=int, default=5, help="warm runs per query")
    ap.add_argument("--out", default=None, help="also write every run as JSON here")
    ap.add_argument("--measure", metavar="TREE", help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.measure:
        print(json.dumps(measure(args.measure, args.sf_dir, args.reps)))
        return 0
    if not args.ref:
        ap.error("--ref is required")
    ref_tree = tempfile.mkdtemp(prefix="ab_multifield_")
    try:
        export_ref(args.ref, ref_tree)
        pairs = []
        for i in range(args.pairs):
            order = ("ref", "head") if i % 2 == 0 else ("head", "ref")
            pair = {"first": order[0]}
            for side in order:
                pair[side] = run_once(ref_tree if side == "ref" else REPO, args.sf_dir, args.reps)
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
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"ref": args.ref, "sf_dir": args.sf_dir, "pairs": pairs}, f, indent=1)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
