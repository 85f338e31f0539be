#!/usr/bin/env python3
"""Paired A/B of one bridgebench workload between two checkouts.

    python3 tools/ab_pairs.py <parent-checkout> <change-checkout> \\
        --workload bridge_fanout --seeds 1-10

Each seed is one pair: `bridgebench/run.py --trace 0` runs once in each
checkout with that seed, and the side that runs first alternates from
pair to pair, so drift over the session falls on both sides alike. The
script only invokes the benchmark; what a run builds or writes stays
where run.py puts it, under `.bench_build/` in its own checkout.

It prints every pair, then for each end-to-end metric of BENCHMARK.json
(read from the change checkout) each side's median [lower quartile,
upper quartile] and the pairs the change won, and finally whether the
gain rule holds for the claimed metric (`--claim`): the change wins at
least 90 % of the pairs (9 of 10) and its median is better than the
parent's by more than the parent's interquartile distance. Quartiles
interpolate linearly between order statistics (`statistics.quantiles`,
inclusive method). Runs last BENCHMARK.json's `run_seconds`. A run that
fails or reports failed operations is printed; each run's stderr goes
to a temp directory named at the end.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

RUN = os.path.join("bridgebench", "run.py")
WIN_SHARE = 0.9


def parse_seeds(tokens):
    seeds = []
    for tok in tokens:
        for part in tok.split(","):
            if not part:
                continue
            if "-" in part:
                lo, hi = (int(x) for x in part.split("-", 1))
                seeds.extend(range(lo, hi + 1))
            else:
                seeds.append(int(part))
    if not seeds:
        sys.exit("no seeds given")
    return seeds


def end_to_end(checkout):
    with open(os.path.join(checkout, "BENCHMARK.json")) as f:
        return [(m["name"], m["better"]) for m in json.load(f)["end_to_end"]]


def run_once(checkout, workload, seed, seconds, log_path):
    cmd = [sys.executable, RUN, "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    with open(log_path, "w") as log:
        r = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=log, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        return None
    try:
        return json.loads(lines[-1])
    except json.JSONDecodeError:
        return None


def value(result, metric):
    v = result["metrics"][metric]
    return v["value"] if isinstance(v, dict) else v


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def better(direction, a, b):
    """Whether `b` is better than `a`."""
    return b < a if direction == "lower" else b > a


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent", help="checkout of the parent commit")
    ap.add_argument("change", help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, nargs="+",
                    help="seeds, one pair each: 1-10, 1,2,3 or 1 2 3")
    ap.add_argument("--claim", default="latency_p50_ms",
                    help="the metric the gain rule is judged on")
    a = ap.parse_args()

    sides = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    for name, path in sides.items():
        if not os.path.isfile(os.path.join(path, RUN)):
            sys.exit(f"{name} checkout {path} has no {RUN}")
    with open(os.path.join(sides["change"], "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    metrics = end_to_end(sides["change"])
    if a.claim not in dict(metrics):
        sys.exit(f"--claim {a.claim} is not an end-to-end metric: {[m for m, _ in metrics]}")
    log_dir = tempfile.mkdtemp(prefix="ab_pairs_")

    results = {"parent": [], "change": []}
    for i, seed in enumerate(parse_seeds(a.seeds)):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        got = {}
        for side in order:
            log = os.path.join(log_dir, f"{a.workload}-{seed}-{side}.log")
            got[side] = run_once(sides[side], a.workload, seed, seconds, log)
            if got[side] is None:
                print(f"seed {seed}: {side} run failed, see {log}", flush=True)
        if any(r is None for r in got.values()):
            continue
        for side in ("parent", "change"):
            results[side].append(dict(got[side], seed=seed))
        cells = "  ".join(f"{m} {value(got['parent'], m):.4g} -> {value(got['change'], m):.4g}"
                          for m, _ in metrics)
        flags = "".join(f"  [{s}: {got[s]['failed']}/{got[s]['attempted']} failed]"
                        for s in ("parent", "change") if got[s].get("failed"))
        flags += "".join(f"  [{s}: incorrect]" for s in ("parent", "change")
                         if not got[s].get("correct", True))
        print(f"seed {seed} ({order[0]} first): {cells}{flags}", flush=True)

    n = len(results["parent"])
    if n == 0:
        sys.exit("no complete pair")
    print(f"\n{a.workload}: {n} pairs, median [quartiles], parent -> change, wins of the change")
    verdict = None
    for m, direction in metrics:
        p = [value(r, m) for r in results["parent"]]
        c = [value(r, m) for r in results["change"]]
        wins = sum(better(direction, x, y) for x, y in zip(p, c))
        (p1, pm, p3), (c1, cm, c3) = quartiles(p), quartiles(c)
        print(f"  {m:18s} {pm:9.4g} [{p1:.4g}, {p3:.4g}] -> {cm:9.4g} [{c1:.4g}, {c3:.4g}]"
              f"  {wins}/{n} ({direction} is better)")
        if m == a.claim:
            gap = (pm - cm) if direction == "lower" else (cm - pm)
            verdict = (wins >= WIN_SHARE * n and gap > p3 - p1, wins, gap, p3 - p1)
    for side in ("parent", "change"):
        attempted = sum(r["attempted"] for r in results[side])
        failed = sum(r["failed"] for r in results[side])
        wrong = sum(1 for r in results[side] if not r.get("correct", True))
        print(f"  {side}: {failed}/{attempted} operations failed, {wrong} incorrect runs")
    met, wins, gap, iqr = verdict
    print(f"gain rule on {a.claim}: {'MET' if met else 'NOT MET'} "
          f"(wins {wins}/{n}, need {WIN_SHARE:.0%}; median gap {gap:.4g} vs parent IQR {iqr:.4g})")
    print(f"run logs: {log_dir}")


if __name__ == "__main__":
    main()
