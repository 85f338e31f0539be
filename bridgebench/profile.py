#!/usr/bin/env python3
"""Writes the committed traced profile of one workload.

Run from the root of a checkout:

    python3 bridgebench/profile.py --workload bridge_fanout --seed 7 --seconds 8

It makes one untraced and one traced run with the same seed, then writes
`bridgebench/profiles/<workload>.json`: the per-layer metrics, each span
name's count, total and self time, every span, the tracing overhead (traced
end-to-end numbers minus untraced ones) and the layer with the largest
share of the blocking time (trigger time on the bridge workloads, query
time on batch_mix).
"""
import argparse
import json
import os
import platform
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def cpu_model():
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return platform.processor() or "unknown"


def shares(trace):
    """Self time of each span name as a share of the root spans' total."""
    summary = trace["span_summary"]
    root = "engine.trigger" if "engine.trigger" in summary else "query"
    base = summary.get(root, {}).get("total_ms", 0.0)
    if not base:
        return root, {}
    return root, {n: round(s["self_ms"] / base, 4) for n, s in summary.items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--seconds", type=int, default=8)
    a = ap.parse_args()

    plain = run(a.workload, a.seed, a.seconds, 0)
    traced = run(a.workload, a.seed, a.seconds, 1)
    with open(os.path.join(".bench_build", "traces", f"{a.workload}-seed{a.seed}.json")) as f:
        trace = json.load(f)
    untraced_e2e = {k: v["value"] for k, v in plain["metrics"].items()}
    overhead = {k: {"untraced": untraced_e2e[k], "traced": trace["end_to_end"][k],
                    "traced_minus_untraced": trace["end_to_end"][k] - untraced_e2e[k]}
                for k in untraced_e2e}
    root, self_shares = shares(trace)
    dominant = max(self_shares.items(), key=lambda kv: kv[1]) if self_shares else (None, 0.0)
    profile = {
        "workload": a.workload,
        "seed": a.seed,
        "seconds": a.seconds,
        "hardware": {"cpus": os.cpu_count(), "cpu": cpu_model()},
        "correct": traced["correct"] and plain["correct"],
        "attempted": traced["attempted"],
        "failed": traced["failed"],
        "per_layer": {k: v["value"] for k, v in traced["metrics"].items()},
        "tracing_overhead": overhead,
        "self_time_share_of": root,
        "self_time_shares": self_shares,
        "dominant_layer": {"span": dominant[0], "share": dominant[1]},
        "span_summary": trace["span_summary"],
        "spans": trace["spans"],
    }
    os.makedirs(os.path.join(HERE, "profiles"), exist_ok=True)
    path = os.path.join(HERE, "profiles", f"{a.workload}.json")
    with open(path, "w") as f:
        json.dump(profile, f, indent=1)
        f.write("\n")
    print(f"{path}: dominant {dominant[0]} at {dominant[1]:.1%} of {root} time", file=sys.stderr)


if __name__ == "__main__":
    main()
