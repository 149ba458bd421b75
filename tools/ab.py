#!/usr/bin/env python3
"""A/B two checkouts on one perfbench workload, in alternating pairs.

Usage:
    python3 tools/ab.py <parentCheckout> <changeCheckout> --workload W --pairs N
        [--seeds 21,22,...] [--out ab.json]

Pair i runs `python3 perfbench/run.py --workload W --seed S_i --seconds S
--trace 0` in both checkouts, S being the parent's BENCHMARK.json
`run_seconds`, one after the other, the parent first on even pairs and the
change first on odd ones, so drift on a shared host falls on both sides
alike. Seeds default to 1..N. Each checkout builds its own jars on its
first run (perfbench/run.py does that, into its gitignored build and work
directories); the script reads perfbench/ and BENCHMARK.json and changes no
tracked file in either checkout.

For every end-to-end metric of BENCHMARK.json it prints each side's median
and quartiles, the number of pairs the change won (better in the metric's
direction), and two verdicts. Regression, against the metric's `bound` (a
fraction of the parent's median):
  worse       the change's median is worse than the parent's by more than
              the bound;
  unresolved  otherwise, when the parent's interquartile range is wider than
              the bound and not every change run beats every parent run;
  ok          otherwise.
Gain holds: at least 10 pairs were run, the change wins at least 90% of
them and its median beats the parent's by more than the parent's
interquartile range. Quartiles interpolate linearly between order
statistics. A run that exits non-zero is recorded as failed, with no
metrics; it and a run with "correct": false or failed operations count as
lost by their side. `--out` is rewritten after every run, so a failure
never loses the pairs before it.
"""
import argparse
import json
import math
import os
import subprocess
import sys


def run_once(checkout, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, stdin=subprocess.DEVNULL,
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-2000:])
        sys.stderr.write(f"ab: {checkout} seed {seed} failed (exit {p.returncode})\n")
        return {"correct": False, "failed": None, "attempted": None,
                "exit": p.returncode, "metrics": {}}
    return json.loads(lines[-1])


def quartiles(xs):
    xs = sorted(xs)

    def q(f):
        k = (len(xs) - 1) * f
        lo, hi = math.floor(k), math.ceil(k)
        return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)
    return q(0.25), q(0.5), q(0.75)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seeds", help="comma-separated, one per pair (default 1..N)")
    ap.add_argument("--out", help="write every run's result as JSON")
    a = ap.parse_args()
    seeds = [int(s) for s in a.seeds.split(",")] if a.seeds else list(range(1, a.pairs + 1))
    if len(seeds) != a.pairs:
        ap.error(f"{len(seeds)} seeds for {a.pairs} pairs")
    with open(os.path.join(a.parent, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    metrics, seconds = bench["end_to_end"], bench["run_seconds"]

    runs = {"parent": [], "change": []}
    for i, seed in enumerate(seeds):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            r = run_once(getattr(a, side), a.workload, seed, seconds)
            r["seed"] = seed
            runs[side].append(r)
            shown = {m["name"]: round(r["metrics"][m["name"]]["value"], 1)
                     for m in metrics if m["name"] in r["metrics"]}
            print(f"pair {i + 1}/{a.pairs} seed {seed} {side}: correct={r['correct']} "
                  f"failed={r['failed']}/{r['attempted']} {shown}", flush=True)
            if a.out:
                with open(a.out, "w") as fh:
                    json.dump({"workload": a.workload, "seeds": seeds, "runs": runs},
                              fh, indent=1)

    def ok(r):
        return r["correct"] and r["failed"] == 0

    print(f"\n{a.workload}: {a.pairs} pairs, seeds {seeds}")
    print(f"{'metric':14} {'parent median [q1, q3]':>30} {'change median [q1, q3]':>30} "
          f"{'wins':>6}  {'regression':10}  gain holds")
    for m in metrics:
        name = m["name"]
        pv = [r["metrics"].get(name, {}).get("value") for r in runs["parent"]]
        cv = [r["metrics"].get(name, {}).get("value") for r in runs["change"]]
        pk, ck = [v for v in pv if v is not None], [v for v in cv if v is not None]
        if not pk or not ck:
            continue
        sign = 1 if m["better"] == "higher" else -1
        wins = sum(1 for p, c, rp, rc in zip(pv, cv, runs["parent"], runs["change"])
                   if ok(rc) and c is not None
                   and (not ok(rp) or p is None or sign * (c - p) > 0))
        pq, cq = quartiles(pk), quartiles(ck)
        holds = (a.pairs >= 10 and wins >= math.ceil(0.9 * a.pairs)
                 and sign * (cq[1] - pq[1]) > pq[2] - pq[0])
        bound = m["bound"] * abs(pq[1])
        if sign * (cq[1] - pq[1]) < -bound:
            verdict = "worse"
        elif pq[2] - pq[0] > bound and not all(sign * (c - p) > 0 for c in ck for p in pk):
            verdict = "unresolved"
        else:
            verdict = "ok"
        ratio = f"  (median ratio {cq[1] / pq[1]:.3f})" if pq[1] else ""
        print(f"{name:14} {pq[1]:12.1f} [{pq[0]:.1f}, {pq[2]:.1f}]".ljust(45)
              + f" {cq[1]:12.1f} [{cq[0]:.1f}, {cq[2]:.1f}]".ljust(31)
              + f" {wins:3}/{a.pairs}  {verdict:10}  {'yes' if holds else 'no'}{ratio}")
    bad = {s: sum(1 for r in rs if not ok(r)) for s, rs in runs.items()}
    print(f"runs not correct or with failed operations: {bad}")


if __name__ == "__main__":
    main()
