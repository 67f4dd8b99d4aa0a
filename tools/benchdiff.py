#!/usr/bin/env python3
"""Compare two Bench records (BENCH_LATEST.json-shaped files).

Usage:
  python3 tools/benchdiff.py OLD.json NEW.json

Reports, in this order:
- rows and throughput rows that were added or dropped, and every row
  listed under the new record's `failed_rows`;
- every row whose `jobs` or `compiles` count went up. Neither count
  depends on machine noise, so any increase is flagged exactly. A record
  written before rows carried a `trace` has no counts to compare, and one
  written before traces carried `compiles` has no compile counts;
- for each row in both records, where the new min falls against the old
  row's `spread` min-max band: `in`, `below` or `above`.

Exit status is 1 when a row was dropped, failed, ran more jobs or compiled
more classes, else 0.
A wall time outside the band is reported, not failed: one run's band
does not bound the next run's noise.
"""
import json
import sys


def load(path):
    with open(path, encoding="utf-8") as f:
        record = json.load(f)
    if "queries" not in record:
        sys.exit(f"{path}: no `queries`, not a BENCH_LATEST.json record")
    return record


def trace_counts(record, key):
    return {name: t[key] for name, t in record.get("trace", {}).items()
            if key in t}


def diff(old, new):
    lines, bad = [], False
    oq, nq = old["queries"], new["queries"]
    failed = new.get("failed_rows", {})
    otp = old["throughput"]["rows"]
    ntp = new["throughput"]["rows"]
    added = [n for n in nq if n not in oq]
    dropped = [n for n in oq if n not in nq and n not in failed]
    tp_added = [n for n in ntp if n not in otp]
    tp_dropped = [n for n in otp if n not in ntp]
    lines.append(f"rows: old {len(oq)}, new {len(nq)}, failed {len(failed)}; "
                 f"throughput rows: old {len(otp)}, new {len(ntp)}")
    for n in added:
        lines.append(f"added    {n}")
    for n in dropped:
        lines.append(f"dropped  {n}")
    for n in tp_added:
        lines.append(f"added    throughput {n}")
    for n in tp_dropped:
        lines.append(f"dropped  throughput {n}")
    for n, err in failed.items():
        lines.append(f"failed   {n}: {err}")
    bad |= bool(dropped or tp_dropped or failed)

    for key, verb in (("jobs", "ran more jobs"),
                      ("compiles", "compiled more classes")):
        oc, nc = trace_counts(old, key), trace_counts(new, key)
        if not oc:
            lines.append(f"{key}: the old record has no {key} counts, "
                         "nothing to compare")
            continue
        more = [(n, oc[n], nc[n]) for n in nq if n in oc and n in nc
                and nc[n] > oc[n]]
        for n, a, b in more:
            lines.append(f"{key + '+':<8} {n}: {a} -> {b}")
        lines.append(f"{key}: {len(more)} rows {verb}")
        bad |= bool(more)

    counts = {"in": 0, "below": 0, "above": 0}
    for n in nq:
        band = old.get("spread", {}).get(n)
        if band is None:
            continue
        v = nq[n]
        where = "below" if v < band["min"] else "above" if v > band["max"] else "in"
        counts[where] += 1
        if where != "in":
            lines.append(f"{where:<8} {n}: {v:.3f} s vs old band "
                         f"{band['min']:.3f}-{band['max']:.3f}")
    lines.append("new min vs old min-max band: " +
                 ", ".join(f"{k} {v}" for k, v in counts.items()))
    return lines, bad


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    lines, bad = diff(load(argv[1]), load(argv[2]))
    print("\n".join(lines))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
