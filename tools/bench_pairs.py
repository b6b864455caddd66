#!/usr/bin/env python3
"""Alternating parent/change runs of perfbench/run.py, and the gain rule.

    python3 tools/bench_pairs.py --parent DIR --change DIR --workload NAME \
        --pairs N --seed0 S [--claim METRIC] [--out FILE]

Runs N pairs of BENCHMARK.json's `run_seconds` each, pair i on seed S+i,
with the parent first in even pairs and the change first in odd ones.
Every pair is appended to --out (JSON lines) with both checkouts' paths
and the run length, and the report covers every pair in the file with
the same workload, checkouts and run length, so an interrupted series
resumes by running it again with a new --seed0. For each end-to-end
metric it prints each side's median and quartiles, the change's wins
(ties count for neither side) and whether the change's median stays
within the metric's BENCHMARK.json bound. For the --claim metric it also prints whether the gain rule holds: at least 10
pairs, wins in at least 9/10 of them, and a median gap larger than the
distance between the parent's quartiles. When the runs time each query
(batch_operators' `query_wall_s`), it also prints each query's medians
and the change's wins.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run(checkout, workload, seed, seconds):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds)],
                       cwd=checkout, capture_output=True, text=True)
    if p.returncode != 0:
        sys.exit(f"{checkout}: run failed (exit {p.returncode}):\n{p.stderr[-2000:]}")
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    # batch_operators' detail line times each query; keep it so a batch
    # claim shows which query moved
    for line in lines[:-1]:
        if line.startswith('{"detail"'):
            walls = json.loads(line)["detail"].get("query_wall_s")
            if walls:
                result["query_wall_s"] = walls
    return result


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    return tuple(statistics.quantiles(xs, n=4, method="inclusive"))


def report(pairs, spec, claim):
    n = len(pairs)
    print(f"{n} pairs; failed runs: parent {sum(p['parent']['failed'] > 0 for p in pairs)}, "
          f"change {sum(p['change']['failed'] > 0 for p in pairs)}; all correct: "
          f"{all(p[s]['correct'] for p in pairs for s in ('parent', 'change'))}")
    print(f"{'metric':18s} {'parent median [q1-q3]':>30s} {'change median [q1-q3]':>30s}"
          f" {'wins':>6s} {'vs bound':>12s}")
    for m in spec["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        par = [p["parent"]["metrics"][name]["value"] for p in pairs]
        chg = [p["change"]["metrics"][name]["value"] for p in pairs]
        wins = sum((c < q) if lower else (c > q) for q, c in zip(par, chg))
        (p1, pm, p3), (c1, cm, c3) = quartiles(par), quartiles(chg)
        worse = (cm - pm if lower else pm - cm) / pm if pm else 0.0
        print(f"{name:18s} {pm:12.4g} [{p1:.4g}-{p3:.4g}] {cm:12.4g} [{c1:.4g}-{c3:.4g}]"
              f" {wins:3d}/{n:<2d} {worse:+7.1%} {'ok' if worse <= m['bound'] else 'WORSE'}")
        if name == claim:
            gap = pm - cm if lower else cm - pm
            holds = n >= 10 and wins >= 0.9 * n and gap > p3 - p1
            print(f"  claim {name}: gap {gap:.4g} vs parent IQR {p3 - p1:.4g}, "
                  f"{wins}/{n} wins -> rule {'holds' if holds else 'does not hold'}")
    timed = [p for p in pairs if all("query_wall_s" in p[s] for s in ("parent", "change"))]
    if timed:
        print(f"{'query (wall s, lower is better)':36s} {'parent median':>14s}"
              f" {'change median':>14s} {'wins':>6s}  ({len(timed)} pairs)")
        for q in sorted(timed[0]["parent"]["query_wall_s"]):
            par = [p["parent"]["query_wall_s"][q] for p in timed]
            chg = [p["change"]["query_wall_s"][q] for p in timed]
            wins = sum(c < x for x, c in zip(par, chg))
            print(f"{q:36s} {statistics.median(par):14.4g} {statistics.median(chg):14.4g}"
                  f" {wins:3d}/{len(timed):<2d}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed0", type=int, required=True)
    ap.add_argument("--claim", default=None)
    ap.add_argument("--out", default="bench_pairs.jsonl")
    a = ap.parse_args()
    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        spec = json.load(f)
    key = {"workload": a.workload, "parent_dir": os.path.realpath(a.parent),
           "change_dir": os.path.realpath(a.change), "seconds": spec["run_seconds"]}
    for i in range(a.pairs):
        seed = a.seed0 + i
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        rec = dict(key, seed=seed, first=order[0])
        for side in order:
            rec[side] = run(key[f"{side}_dir"], a.workload, seed, key["seconds"])
        with open(a.out, "a") as f:
            f.write(json.dumps(rec) + "\n")
        print(f"pair {i + 1}/{a.pairs} seed {seed}: " + ", ".join(
            f"{s} {rec[s]['metrics'][a.claim or 'busy_s']['value']:.4g}" for s in order),
            flush=True)
    with open(a.out) as f:
        pairs = [r for r in map(json.loads, f) if all(r.get(k) == v for k, v in key.items())]
    if not pairs:
        sys.exit(f"{a.out}: no pairs for {key}")
    report(pairs, spec, a.claim)


if __name__ == "__main__":
    main()
