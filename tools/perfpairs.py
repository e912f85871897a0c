#!/usr/bin/env python3
"""Paired parent/change benchmark runs, summarised per workload and metric.

    python3 tools/perfpairs.py --parent ../graft-parent --change . \\
        --workload registry_api --seeds 11-20 [--seconds 5] [--out pairs.json]

Runs `perfbench/run.py --trace 0` in two checkouts (the parent commit
and the change), one pair per seed, alternating which side runs first.
Each run is read from the last line run.py prints. For every workload
and end-to-end metric it prints each side's median and quartiles, the
pairs the change won (ties and pairs with a failed run count for neither
side), and two verdicts:

  gain   the claim rule for a gain: the change wins at least nine tenths
         of all pairs run, the medians differ, in the better direction,
         by more than the parent's interquartile range, every run exited
         zero, and the change failed no more operations than the parent;
  bound  for metrics with a bound in BENCHMARK.json: "worse" when the
         change's median exceeds the parent's by more than bound x the
         parent's median, "unresolved" when either side's IQR/median is
         wider than the bound (unless every change run beats every
         parent run), else "ok".

Every run is printed as it finishes; with --out the raw runs are written
to a JSON file after each pair, so an interrupted sweep keeps the pairs
finished so far.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def seeds_arg(s):
    out = []
    for part in s.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def run_one(checkout, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t = time.time()
    p = subprocess.run(cmd, cwd=checkout, stdin=subprocess.DEVNULL,
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True)
    lines = [x for x in p.stdout.splitlines() if x.strip()]
    rec = {"seed": seed, "rc": p.returncode, "wall_s": round(time.time() - t, 1)}
    try:
        last = json.loads(lines[-1])
        rec.update(failed=last["failed"], attempted=last["attempted"],
                   metrics={k: v["value"] for k, v in last["metrics"].items()})
    except (IndexError, ValueError, KeyError):
        rec.update(failed=None, attempted=None, metrics={},
                   error=(p.stderr or p.stdout)[-2000:])
    return rec


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def failed_ops(pairs, side):
    return sum(p[side]["failed"] or 0 for p in pairs)


def summarise(workload, pairs, spec):
    """One row per metric of `spec` (name -> {better, bound}) found in
    every completed run of both sides."""
    ok = [p for p in pairs if p["parent"]["metrics"] and p["change"]["metrics"]]
    clean = (all(p[s]["rc"] == 0 for p in pairs for s in ("parent", "change"))
             and failed_ops(pairs, "change") <= failed_ops(pairs, "parent"))
    rows = []
    for name, m in spec.items():
        if not ok or not all(name in p[s]["metrics"]
                             for p in ok for s in ("parent", "change")):
            continue
        lower = m.get("better", "lower") == "lower"
        par = [p["parent"]["metrics"][name] for p in ok]
        chg = [p["change"]["metrics"][name] for p in ok]
        pq, cq = quartiles(par), quartiles(chg)
        better = (lambda a, b: a < b) if lower else (lambda a, b: a > b)
        wins = sum(1 for a, b in zip(chg, par) if better(a, b))
        gain_by = (pq[1] - cq[1]) if lower else (cq[1] - pq[1])
        gain = (clean and wins >= 0.9 * len(pairs)
                and gain_by > (pq[2] - pq[0]))
        row = {"workload": workload, "metric": name, "pairs": len(ok),
               "parent": pq, "change": cq, "wins": wins, "gain": gain,
               "ratio": cq[1] / pq[1] if pq[1] else float("nan")}
        bound = m.get("bound")
        if bound is not None:
            worse_by = (cq[1] - pq[1]) if lower else (pq[1] - cq[1])
            spread = max((q[2] - q[0]) / q[1] if q[1] else 0.0 for q in (pq, cq))
            dominates = all(better(c, p) for c in chg for p in par)
            if worse_by > bound * pq[1]:
                row["bound"] = "worse"
            elif spread > bound and not dominates:
                row["bound"] = "unresolved"
            else:
                row["bound"] = "ok"
            row["spread"] = spread
        rows.append(row)
    return rows


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--seeds", type=seeds_arg, required=True,
                    help="e.g. 11-20 or 1,3,5-7")
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--out", help="write the raw runs here as JSON")
    a = ap.parse_args()

    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        bench = json.load(f)
    spec = {m["name"]: m for m in bench["end_to_end"]}

    sides = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    runs = {}
    for w in a.workload:
        runs[w] = []
        for i, seed in enumerate(a.seeds):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            pair = {"seed": seed, "first": order[0]}
            for side in order:
                r = run_one(sides[side], w, seed, a.seconds)
                pair[side] = r
                print("%s seed %d %-6s rc=%d failed=%s %s" % (
                    w, seed, side, r["rc"], r["failed"],
                    " ".join("%s=%.4g" % kv for kv in sorted(r["metrics"].items()))
                    or r.get("error", "")[-300:]), flush=True)
            runs[w].append(pair)
            if a.out:
                with open(a.out, "w") as f:
                    json.dump(runs, f, indent=1)

    print()
    print("%-14s %-16s %5s %26s %26s %6s %5s %5s %10s" % (
        "workload", "metric", "pairs", "parent q1/med/q3", "change q1/med/q3",
        "ratio", "wins", "gain", "bound"))
    for w in a.workload:
        for r in summarise(w, runs[w], spec):
            fmt = lambda q: "%.4g/%.4g/%.4g" % q
            print("%-14s %-16s %5d %26s %26s %6.3f %5d %5s %10s" % (
                w, r["metric"], r["pairs"], fmt(r["parent"]), fmt(r["change"]),
                r["ratio"], r["wins"], "yes" if r["gain"] else "no",
                r.get("bound", "-")))
        failed = {s: failed_ops(runs[w], s) for s in sides}
        broken = {s: sum(1 for p in runs[w] if p[s]["rc"] != 0) for s in sides}
        print("%-14s failed operations: parent %d, change %d; runs that "
              "exited non-zero: parent %d, change %d" % (
                  w, failed["parent"], failed["change"],
                  broken["parent"], broken["change"]))


if __name__ == "__main__":
    main()
