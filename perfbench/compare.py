#!/usr/bin/env python3
"""Compare two result sets of the benchmark.

    python3 perfbench/compare.py BASE_DIR [CHANGE_DIR]

A result set is a directory of the per-run records that run.py writes under
<build dir>/results/. For each workload and end-to-end metric it prints the
median and quartiles of each set, the spread (interquartile range over the
median) and, given two sets, a verdict against the metric's bound in
BENCHMARK.json: `worse` when the change's median is worse than the base's by
more than the bound, `unresolved` when either set's spread is wider than the
bound, else `ok`. Traced records add the exact counts (jobs, stages, tasks
per op or batch), which must repeat between runs of the same code and seed;
any difference is printed as `COUNT DIFF`.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
COUNTS = ("exec.jobs", "exec.stages", "exec.tasks")


def load(d):
    recs = []
    for p in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(p) as f:
            recs.append(json.load(f))
    return recs


def bounds():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m for m in bench["end_to_end"]}


def stats(values):
    q1, q2, q3 = statistics.quantiles(values, n=4) if len(values) > 1 \
        else (values[0],) * 3
    med = statistics.median(values)
    return med, q1, q3, (q3 - q1) / med if med else 0.0


def summary(recs):
    """{workload: {metric: [values]}} over untraced records, and
    {(workload, seed): {count: value}} over traced ones."""
    e2e, counts = {}, {}
    for r in recs:
        if r["trace"]:
            counts.setdefault((r["workload"], r["seed"]), []).append(
                {c: r["per_layer"][c]["value"] for c in COUNTS})
        else:
            for name, m in r["e2e"].items():
                e2e.setdefault(r["workload"], {}).setdefault(
                    name, []).append(m["value"])
    return e2e, counts


def worse(base, change, better):
    return change > base if better == "lower" else change < base


def main():
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__)
    sets = [summary(load(d)) for d in sys.argv[1:]]
    meta = bounds()
    status = 0
    for w in sorted(set().union(*(s[0].keys() for s in sets))):
        print(f"== {w}")
        for name, m in meta.items():
            cols, meds, spreads = [], [], []
            for e2e, _ in sets:
                vals = e2e.get(w, {}).get(name)
                if not vals:
                    cols.append("-")
                    continue
                med, q1, q3, spread = stats(vals)
                meds.append(med)
                spreads.append(spread)
                cols.append(f"med {med:.4g} [{q1:.4g}, {q3:.4g}] "
                            f"spread {spread:.3f} n={len(vals)}")
            verdict = ""
            if len(meds) == 2:
                delta = abs(meds[1] - meds[0]) / meds[0]
                if worse(meds[0], meds[1], m["better"]) and delta > m["bound"]:
                    verdict, status = "worse", 1
                elif name != "setup_s" and max(spreads) > m["bound"]:
                    verdict = "unresolved"
                else:
                    verdict = "ok"
                verdict = f"{verdict} ({meds[1] / meds[0] - 1:+.1%}, " \
                          f"bound {m['bound']:.0%})"
            elif spreads and name != "setup_s" and spreads[0] > m["bound"]:
                verdict = f"spread over bound {m['bound']:.0%}"
            print(f"  {name:<18} " + " | ".join(cols) + f"  {verdict}")
    runs = {}
    for _, counts in sets:
        for key, rows in counts.items():
            runs.setdefault(key, []).extend(rows)
    for (w, seed), rows in sorted(runs.items()):
        same = all(r == rows[0] for r in rows)
        print(f"  counts {w} seed {seed}: "
              + ", ".join(f"{c}={rows[0][c]:g}" for c in COUNTS)
              + f" over {len(rows)} traced runs"
              + ("" if same else f"  COUNT DIFF {rows}"))
        status |= 0 if same else 1
    sys.exit(status)


if __name__ == "__main__":
    main()
