#!/usr/bin/env python3
"""Alternated A/B runs of the repo benchmark: a parent checkout against a
change checkout, on the same seeds, with the order flipped every pair.

  python3 tools/perf_ab.py --parent DIR --change DIR --workload queue-serve \\
      --seeds 11,12,...,20 [--metric latency_mean_ms] [--out FILE]

Each pair runs `python3 perfbench/run.py --workload W --seed S --seconds T
--trace 0` once in each checkout, where T is BENCHMARK.json's
`run_seconds` (each checkout builds its own sources into its own
perfbench/.work). Even-numbered pairs run the parent first, odd ones
the change first, so a box that drifts during the set does not favour
one side. Prints every run's end-to-end values, each side's median and
quartiles, the change's win count per metric, and the verdict for the
claimed metric:

  GAIN     the change wins at least 9/10 of the pairs (a tie wins for
           neither side) and the medians differ, in the better direction,
           by more than the parent's interquartile range;
  NO GAIN  otherwise.

Every other metric is checked against the bound BENCHMARK.json gives it:
WORSE when the change's median is worse than the parent's by more than
the bound. The script reads the parent's BENCHMARK.json and changes no
file in either checkout; `--out` writes every run as JSON.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def quartiles(xs):
    """(q1, median, q3), inclusive method; a single value is its own
    quartiles."""
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def wins(parent, change, better):
    """Pairs the change wins, pairs it loses; ties count for neither."""
    won = lost = 0
    for p, c in zip(parent, change):
        if c == p:
            continue
        if (c < p) == (better == "lower"):
            won += 1
        else:
            lost += 1
    return won, lost


def gain_verdict(parent, change, better, share=0.9):
    """The claim rule: the change wins at least `share` of all pairs and
    the medians differ in its favour by more than the parent's IQR."""
    if not parent or len(parent) != len(change):
        raise ValueError("need the same, non-zero number of runs per side")
    won, _ = wins(parent, change, better)
    q1, mp, q3 = quartiles(parent)
    mc = statistics.median(change)
    gap = (mp - mc) if better == "lower" else (mc - mp)
    ok = won >= share * len(parent) and gap > q3 - q1
    return {"gain": ok, "won": won, "pairs": len(parent), "median_gap": gap,
            "parent_iqr": q3 - q1}


def bound_verdict(parent, change, better, bound):
    """WORSE when the change's median is worse than the parent's by more
    than `bound` (a fraction of the parent's median)."""
    mp, mc = statistics.median(parent), statistics.median(change)
    if mp == 0:
        return "ok"
    rel = (mc - mp) / mp if better == "lower" else (mp - mc) / mp
    return "WORSE" if rel > bound else "ok"


def order(i):
    """Which side runs first in pair `i`."""
    return ("parent", "change") if i % 2 == 0 else ("change", "parent")


def run_one(checkout, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    out = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, text=True)
    if out.returncode != 0:
        sys.exit(f"{checkout}: run.py exited with {out.returncode}")
    res = json.loads(out.stdout.strip().splitlines()[-1])
    vals = {k: v["value"] for k, v in res["metrics"].items()}
    return vals, res["failed"], res["attempted"]


def report(runs, spec, metric):
    """Print the summary table and return the claimed metric's verdict."""
    verdict = None
    for m in spec:
        name, better, bound = m["name"], m["better"], m["bound"]
        p = [r["parent"][name] for r in runs]
        c = [r["change"][name] for r in runs]
        pq, cq = quartiles(p), quartiles(c)
        won, lost = wins(p, c, better)
        line = (f"{name:18s} parent {pq[1]:10.3f} [{pq[0]:.3f}, {pq[2]:.3f}]  "
                f"change {cq[1]:10.3f} [{cq[0]:.3f}, {cq[2]:.3f}]  "
                f"ratio {cq[1] / pq[1] if pq[1] else float('nan'):.3f}  "
                f"change wins {won}/{len(p)} (loses {lost})  "
                f"bound {bound}: {bound_verdict(p, c, better, bound)}")
        print(line)
        if name == metric:
            verdict = gain_verdict(p, c, better)
    return verdict


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="comma-separated seed list")
    ap.add_argument("--metric", help="the claimed end-to-end metric")
    ap.add_argument("--out", help="write every run as JSON here")
    a = ap.parse_args(argv)
    with open(os.path.join(a.parent, "BENCHMARK.json")) as f:
        bench = json.load(f)
    spec = bench["end_to_end"]
    seconds = bench["run_seconds"]
    sides = {"parent": a.parent, "change": a.change}
    runs = []
    for i, seed in enumerate(int(x) for x in a.seeds.split(",")):
        row = {"seed": seed, "first": order(i)[0]}
        for side in order(i):
            vals, failed, attempted = run_one(sides[side], a.workload, seed, seconds)
            row[side] = vals
            row[side + "_failed"] = [failed, attempted]
            print(f"pair {i:2d} seed {seed:6d} {side:6s} failed {failed}/{attempted}  " +
                  "  ".join(f"{k} {v:.3f}" for k, v in sorted(vals.items())), flush=True)
        runs.append(row)
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"workload": a.workload, "seconds": seconds, "runs": runs}, f, indent=1)
    verdict = report(runs, spec, a.metric)
    if verdict is not None:
        print(f"{a.metric}: {'GAIN' if verdict['gain'] else 'NO GAIN'} "
              f"(change wins {verdict['won']}/{verdict['pairs']}; median gap "
              f"{verdict['median_gap']:.3f} vs parent IQR {verdict['parent_iqr']:.3f})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
