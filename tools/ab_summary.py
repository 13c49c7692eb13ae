#!/usr/bin/env python3
"""Summarize an interleaved parent/change perfbench A/B.

Reads the result files of an interleaved run (the last stdout line of
`perfbench/run.py`, saved as `<side>-<workload>-<seed>.json`, side being
`parent` or `change`) and the metric declarations in `BENCHMARK.json`
(read only). For each workload and end-to-end metric it prints each side's
median and quartiles, the pairs (same workload and seed) the change won and
lost, whether the medians differ by more than the parent's interquartile
range, and whether the change's median is worse than the parent's by more
than the metric's bound. `ops_failed_ratio` (failed / attempted) must not
rise at all. Each side's median `attempted` (operations per run) is printed
per workload: a shift in request volume moves the benchmark's own records,
and so `heap_live_mb`.

    python3 tools/ab_summary.py <results-dir> [--benchmark BENCHMARK.json] [--json]

Exit status 1 when any metric regresses past its bound or a run failed its
correctness gate.
"""
import argparse
import json
import os
import re
import statistics
import sys

NAME = re.compile(r"^(parent|change)-([A-Za-z0-9_]+)-([A-Za-z0-9_]+)\.json$")


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def load(results_dir):
    """{workload: {seed: {side: run}}}"""
    runs = {}
    for name in sorted(os.listdir(results_dir)):
        m = NAME.match(name)
        if not m:
            continue
        side, workload, seed = m.groups()
        with open(os.path.join(results_dir, name)) as f:
            text = f.read().strip()
        if not text:
            continue
        run = json.loads(text.splitlines()[-1])
        value = {k: v["value"] for k, v in run.get("metrics", {}).items()}
        if run.get("attempted"):
            value["ops_failed_ratio"] = run["failed"] / run["attempted"]
        value["_attempted"] = run.get("attempted", 0)
        value["_correct"] = bool(run.get("correct"))
        runs.setdefault(workload, {}).setdefault(seed, {})[side] = value
    return runs


def summarize(runs, declared):
    rows = []
    for workload, seeds in sorted(runs.items()):
        for m in declared:
            name, better, bound = m["name"], m["better"], m["bound"]
            sides = {s: [r[s][name] for r in seeds.values() if s in r and name in r[s]]
                     for s in ("parent", "change")}
            if not sides["parent"] or not sides["change"]:
                continue
            sign = 1 if better == "higher" else -1
            diffs = [sign * (r["change"][name] - r["parent"][name]) for r in seeds.values()
                     if name in r.get("parent", {}) and name in r.get("change", {})]
            won, lost = sum(d > 0 for d in diffs), sum(d < 0 for d in diffs)
            pq, cq = quartiles(sides["parent"]), quartiles(sides["change"])
            worse = -sign * (cq[1] - pq[1])
            regressed = (worse > 0 if bound == 0
                         else pq[1] != 0 and worse / abs(pq[1]) > bound)
            beyond = abs(cq[1] - pq[1]) > pq[2] - pq[0]
            rows.append({
                "workload": workload, "metric": name, "better": better,
                "parent": {"n": len(sides["parent"]), "q1": pq[0], "median": pq[1], "q3": pq[2]},
                "change": {"n": len(sides["change"]), "q1": cq[0], "median": cq[1], "q3": cq[2]},
                "pairs": len(diffs), "won": won, "lost": lost,
                "beyond_parent_iqr": beyond,
                "gain": beyond and sign * (cq[1] - pq[1]) > 0,
                "regressed": regressed,
            })
    return rows


def attempted(runs):
    """{workload: {side: median operations per run}}"""
    out = {}
    for workload, seeds in sorted(runs.items()):
        for side in ("parent", "change"):
            xs = [r[side]["_attempted"] for r in seeds.values() if side in r]
            if xs:
                out.setdefault(workload, {})[side] = statistics.median(xs)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("results_dir")
    ap.add_argument("--benchmark", default=os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json"))
    ap.add_argument("--json", action="store_true", help="print the rows as JSON")
    a = ap.parse_args()
    with open(a.benchmark) as f:
        declared = json.load(f)["end_to_end"]
    declared = declared + [{"name": "ops_failed_ratio", "better": "lower", "bound": 0}]
    runs = load(a.results_dir)
    rows = summarize(runs, declared)
    ops = attempted(runs)
    incorrect = sorted(f"{side}-{w}-{s}" for w, seeds in runs.items()
                       for s, r in seeds.items() for side, v in r.items() if not v["_correct"])
    if a.json:
        print(json.dumps({"rows": rows, "attempted": ops, "incorrect_runs": incorrect},
                         indent=1))
    else:
        print(f"{'workload':15} {'metric':21} {'parent q1/med/q3':>28} "
              f"{'change q1/med/q3':>28} {'won':>4}/{'pairs':<5} verdict")
        def fmt(s):
            return f"{s['q1']:.4g}/{s['median']:.4g}/{s['q3']:.4g}"
        for w, sides in ops.items():
            for r in rows:
                if r["workload"] != w:
                    continue
                verdict = ("REGRESSED" if r["regressed"] else
                           "gain" if r["gain"] and r["won"] >= 0.9 * r["pairs"] else
                           "better, beyond IQR" if r["gain"] else
                           "worse, beyond IQR" if r["beyond_parent_iqr"] else "within IQR")
                print(f"{w:15} {r['metric']:21} {fmt(r['parent']):>28} "
                      f"{fmt(r['change']):>28} {r['won']:>4}/{r['pairs']:<5} {verdict}")
            print(f"{w:15} {'attempted (median)':21} {sides.get('parent', '-'):>28} "
                  f"{sides.get('change', '-'):>28}")
        if incorrect:
            print("runs failing the correctness gate:", ", ".join(incorrect))
    sys.exit(1 if incorrect or any(r["regressed"] for r in rows) else 0)


if __name__ == "__main__":
    main()
