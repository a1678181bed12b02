#!/usr/bin/env python3
"""Interleaved A/B of ``perfbench/run.py`` between a git ref and this tree.

The host drifts 2-3x between identical runs, so a gain under 2x is only
visible when both trees run side by side in time. This script exports a
git ref into a temporary directory, then for each seed runs

    python3 perfbench/run.py --workload W --seed s --seconds 15 --trace 0

once in that copy and once in this tree, one after the other, flipping
which tree goes first from seed to seed. It prints each pair, then the
median over pairs of the ratio (this tree / ref) of every end-to-end
metric and of each request kind's p50. A ratio below 1 means this tree
is lower (faster, for a time).

Last it prints one verdict per end-to-end metric, judged against the
``better`` direction and relative ``bound`` that ``BENCHMARK.json`` declares
for it:

* ``no regression`` -- every run of this tree reads better than every run
  of the ref, or the medians differ in the worse direction by at most the
  bound;
* ``unresolved`` -- the ref's own interquartile spread (quartiles by
  ``statistics.quantiles``' default, exclusive method) is wider than the
  bound and the two sets of runs overlap, so the pairs cannot tell;
* ``regressed`` -- otherwise.

``--claim METRIC`` also judges a claimed gain on one metric (an end-to-end
metric, in its declared direction, or a request kind's p50, lower is
better):

* ``improved`` -- every run of this tree reads better than every run of
  the ref, or the median pair ratio is better than 1 by more than the
  ref's relative interquartile spread;
* ``not shown`` -- otherwise.

Usage:
    python3 scripts/ab_perfbench.py --ref HEAD~1 --workload query_mix --seeds 1-5
    python3 scripts/ab_perfbench.py --ref HEAD~1 --seeds 1-10 --claim op_p50_s
    make ab REF=HEAD~1 WORKLOAD=query_mix SEEDS=1-6 CLAIM=op_p50_s
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def export_ref(ref: str, dest: str) -> None:
    """Write the tree of ``ref`` into ``dest`` (no .git, no worktree)."""
    archive = subprocess.run(
        ["git", "-C", REPO, "archive", "--format=tar", ref],
        capture_output=True, check=True,
    ).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)


def run_once(tree: str, workload: str, seed: int, seconds: float) -> dict:
    """One untraced perfbench run in ``tree`` -> its metrics, per-kind p50s
    and correctness."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=tree, capture_output=True, text=True,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    if len(lines) < 2:
        sys.stderr.write(proc.stdout[-3000:] + proc.stderr[-3000:])
        raise SystemExit(f"perfbench run in {tree} (seed {seed}) printed no result")
    report = json.loads(lines[-2])["report"]
    last = json.loads(lines[-1])
    values = {name: m["value"] for name, m in last["metrics"].items()}
    for key, fig in report.items():
        if key.endswith("_p50_s") and isinstance(fig, dict):
            values[key] = fig["value"]
    return {"values": values, "correct": last["correct"], "failed": last["failed"]}


def spread(ref: list[float]) -> float:
    """The ref runs' interquartile range over their median."""
    q1, _, q3 = statistics.quantiles(ref, n=4) if len(ref) > 1 else (ref[0],) * 3
    ref_med = statistics.median(ref)
    return (q3 - q1) / abs(ref_med) if ref_med else 0.0


def verdict(ref: list[float], head: list[float], better: str, bound: float) -> str:
    """Judge one end-to-end metric from its paired runs (module docstring)."""
    sign = 1.0 if better == "lower" else -1.0  # sign * value: lower is better
    r, h = [sign * v for v in ref], [sign * v for v in head]
    if max(h) < min(r):
        return "no regression"
    ref_med = statistics.median(ref)
    overlap = max(min(r), min(h)) <= min(max(r), max(h))
    if spread(ref) > bound and overlap:
        return "unresolved"
    worse = ((statistics.median(h) - statistics.median(r)) / abs(ref_med)
             if ref_med else 0.0)
    return "no regression" if worse <= bound else "regressed"


def claim(ref: list[float], head: list[float], ratio: float, better: str) -> str:
    """Judge a claimed gain from its paired runs and their median pair
    ratio head/ref (module docstring)."""
    sign = 1.0 if better == "lower" else -1.0
    if max(sign * v for v in head) < min(sign * v for v in ref):
        return "improved"
    return "improved" if sign * (ratio - 1.0) < -spread(ref) else "not shown"


def parse_seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--ref", required=True, help="git ref to compare against")
    ap.add_argument("--workload", default="query_mix")
    ap.add_argument("--seeds", default="1-5", help="'1-5' or '1,3,7'")
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--out", default=None, help="also write the pairs as JSON here")
    ap.add_argument("--claim", default=None, metavar="METRIC",
                    help="judge a claimed gain on this metric (module docstring)")
    args = ap.parse_args()

    ref_tree = tempfile.mkdtemp(prefix="ab_perfbench_")
    pairs = []
    try:
        export_ref(args.ref, ref_tree)
        for i, seed in enumerate(parse_seeds(args.seeds)):
            order = (("ref", ref_tree), ("head", REPO))
            got = {label: run_once(tree, args.workload, seed, args.seconds)
                   for label, tree in (order if i % 2 == 0 else order[::-1])}
            pairs.append({"seed": seed, "first": "ref" if i % 2 == 0 else "head", **got})
            ref, head = got["ref"]["values"], got["head"]["values"]
            print(f"seed {seed} ({pairs[-1]['first']} first) "
                  f"failed ref/head {got['ref']['failed']}/{got['head']['failed']}: "
                  + ", ".join(f"{k} {ref[k]:.4g} -> {head[k]:.4g}"
                              for k in ref if k in head), flush=True)
    finally:
        shutil.rmtree(ref_tree, ignore_errors=True)

    names = [k for k in pairs[0]["ref"]["values"] if k in pairs[0]["head"]["values"]]
    ratios = {
        k: statistics.median(
            p["head"]["values"][k] / p["ref"]["values"][k] for p in pairs
        )
        for k in names
    }
    for k, r in ratios.items():
        print(f"median ratio head/ref {k}: {r:.3f}")
    with open(os.path.join(REPO, "BENCHMARK.json"), encoding="utf-8") as fh:
        end_to_end = json.load(fh)["end_to_end"]
    verdicts = {}
    for m in end_to_end:
        if m["name"] not in names:
            continue
        ref_v = [p["ref"]["values"][m["name"]] for p in pairs]
        head_v = [p["head"]["values"][m["name"]] for p in pairs]
        verdicts[m["name"]] = verdict(ref_v, head_v, m["better"], m["bound"])
        print(f"verdict {args.workload} {m['name']} ({m['better']} is better, "
              f"bound {m['bound']}, {len(pairs)} pairs): {verdicts[m['name']]}")
    claimed = None
    if args.claim:
        if args.claim not in names:
            raise SystemExit(f"--claim {args.claim}: no such metric in {names}")
        better = {m["name"]: m["better"] for m in end_to_end}.get(args.claim, "lower")
        ref_v = [p["ref"]["values"][args.claim] for p in pairs]
        head_v = [p["head"]["values"][args.claim] for p in pairs]
        sign = 1.0 if better == "lower" else -1.0
        wins = sum(sign * h < sign * r for r, h in zip(ref_v, head_v))
        claimed = {"metric": args.claim, "better": better,
                   "result": claim(ref_v, head_v, ratios[args.claim], better),
                   "pairs_head_better": wins, "ref_spread": spread(ref_v)}
        print(f"claim {args.workload} {args.claim} ({better} is better, median "
              f"ratio {ratios[args.claim]:.3f}, head better in {wins}/{len(pairs)} "
              f"pairs, ref spread {claimed['ref_spread']:.3f}): {claimed['result']}")
    summary = {
        "ref": args.ref,
        "workload": args.workload,
        "seconds": args.seconds,
        "median_ratio_head_over_ref": ratios,
        "verdicts": verdicts,
        "claim": claimed,
        "all_correct": all(p[s]["correct"] for p in pairs for s in ("ref", "head")),
        "pairs": pairs,
    }
    print(json.dumps(summary))
    if args.out:
        with open(args.out, "w", encoding="utf-8") as fh:
            json.dump(summary, fh, indent=2)
    return 0 if summary["all_correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
