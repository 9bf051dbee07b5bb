#!/usr/bin/env python3
"""Alternating parent/change benchmark pairs, summarised per metric.

Usage, from anywhere:

    python3 tools/pairs.py --parent PARENT_DIR --change CHANGE_DIR \\
        --workload serve --seeds 9001-9010 [--seconds 8] [--trace 0] [--out runs.jsonl]

PARENT_DIR and CHANGE_DIR are two full checkouts. For each seed the script
runs `perfbench/run.py` once in each checkout, with the same arguments,
alternating which side runs first (the parent first on even pair
indices). Each run is printed as it finishes, with its host sentinels:
stolen cores and external load. At the end it prints, for every metric of
either side, each side's median and quartiles, how many pairs the change
won (ties count for neither), and whether the gain rule holds: the change
wins at least nine tenths of the pairs and the medians differ by more than
the parent's interquartile range. Which direction is better comes from
the change checkout's BENCHMARK.json.

The exit code is 0 when every run was correct, 1 otherwise.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def run(checkout, workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = proc.stdout.strip().splitlines()
    result, sentinels = None, {}
    for line in lines:
        try:
            obj = json.loads(line)
        except ValueError:
            continue
        if isinstance(obj, dict) and "sentinels" in obj:
            sentinels = obj["sentinels"]
        elif isinstance(obj, dict) and "metrics" in obj:
            result = obj
    if proc.returncode != 0 or result is None:
        sys.stderr.write(proc.stderr[-2000:])
        result = {"correct": False, "attempted": 0, "failed": 0, "metrics": {}}
    return result, sentinels


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def directions(checkout):
    bench = json.loads((Path(checkout) / "BENCHMARK.json").read_text())
    return {m["name"]: m["better"] for m in bench.get("end_to_end", []) + bench.get("per_layer", [])}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 9001-9010 or 9001,9005-9007")
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", help="append every run as one JSON line")
    a = ap.parse_args()

    better = directions(a.change)
    runs = []  # (pair index, side, result, sentinels)
    all_correct = True
    for i, seed in enumerate(seeds(a.seeds)):
        order = [("parent", a.parent), ("change", a.change)]
        for side, checkout in order if i % 2 == 0 else order[::-1]:
            result, sent = run(checkout, a.workload, seed, a.seconds, a.trace)
            all_correct &= result.get("correct") in (True, "true")
            runs.append((i, side, result, sent))
            values = {k: v["value"] for k, v in result["metrics"].items()}
            print(f"pair {i} seed {seed} {side}: correct={result['correct']} "
                  f"attempted={result['attempted']} failed={result['failed']} "
                  f"steal_cores={sent.get('steal_cores')} external_load={sent.get('external_load')} "
                  f"{json.dumps(values)}", flush=True)
            if a.out:
                with open(a.out, "a") as f:
                    f.write(json.dumps({"pair": i, "seed": seed, "side": side, "workload": a.workload,
                                        "trace": a.trace, "result": result, "sentinels": sent}) + "\n")

    by = {}
    for i, side, result, _ in runs:
        for name, m in result["metrics"].items():
            by.setdefault(name, {}).setdefault(side, {})[i] = m["value"]
    print()
    print("| metric | better | parent median [q1, q3] | change median [q1, q3] | change wins | gain rule |")
    print("|---|---|---|---|---|---|")
    for name in sorted(by):
        sides = by[name]
        if "parent" not in sides or "change" not in sides:
            continue
        dirn = better.get(name, "lower")
        pairs = sorted(set(sides["parent"]) & set(sides["change"]))
        wins = sum(1 for p in pairs
                   if (sides["change"][p] < sides["parent"][p] if dirn == "lower"
                       else sides["change"][p] > sides["parent"][p]))
        pq1, pmed, pq3 = quartiles([sides["parent"][p] for p in pairs])
        cq1, cmed, cq3 = quartiles([sides["change"][p] for p in pairs])
        holds = wins >= 0.9 * len(pairs) and abs(cmed - pmed) > (pq3 - pq1)
        print(f"| {name} | {dirn} | {pmed:.4g} [{pq1:.4g}, {pq3:.4g}] | {cmed:.4g} [{cq1:.4g}, {cq3:.4g}] "
              f"| {wins}/{len(pairs)} | {'holds' if holds else 'no'} |")
    sys.exit(0 if all_correct else 1)


if __name__ == "__main__":
    main()
