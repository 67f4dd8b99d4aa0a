#!/usr/bin/env python3
"""Self-test of the benchmark's failure convention and contract.

    python3 perfbench/selftest.py

1. An exception injected into one measured flow_sweep op, and separately a
   corrupted expected digest for one op, must each count as a failed op,
   raise error_rate, mark the run incorrect and leave that op without a
   timing sample.
2. In a directory holding only BENCHMARK.json and perfbench/, run.py must
   exit non-zero without printing a result.
3. BENCHMARK.json must list exactly the metrics run.py reports.
"""
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics  # noqa: E402
import run  # noqa: E402


def bench(args, cwd=ROOT, script=os.path.join(HERE, "run.py")):
    return subprocess.run([sys.executable, script] + args, cwd=cwd,
                          capture_output=True, text=True, timeout=600)


def injected(kind):
    p = bench(["--workload", "flow_sweep", "--seed", "7", "--seconds", "6",
               "--trace", "0", "--inject", kind])
    assert p.returncode == 0, p.stderr[-2000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    path = next(l.split("record: ", 1)[1] for l in p.stdout.splitlines()
                if "record: " in l)
    with open(path) as f:
        rec = json.load(f)
    failed_ops = {f["op"] for f in rec["failures"]}
    assert result["failed"] == 1 and not result["correct"], result
    assert rec["error_rate"] > 0, rec["error_rate"]
    assert len(rec["samples_ms"]) == result["attempted"] - 1
    assert not failed_ops & set(rec["sampled_ops"]), "failed op was timed"
    print(f"ok: injected {kind}: {result['failed']} of {result['attempted']}"
          f" ops failed ({rec['failures'][0]['why']}), error_rate "
          f"{rec['error_rate']:.3f}, no timing for op {sorted(failed_ops)}")


def bare_directory():
    d = os.path.join(run.build_dir(), "selftest-bare")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
    shutil.copytree(HERE, os.path.join(d, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = bench(["--workload", "flow_sweep", "--seed", "1", "--seconds", "5",
               "--trace", "0"], cwd=d,
              script=os.path.join(d, "perfbench", "run.py"))
    shutil.rmtree(d)
    last = (p.stdout.strip().splitlines() or [""])[-1]
    assert p.returncode != 0 and not last.startswith("{"), (p.returncode,
                                                             last)
    print(f"ok: bare directory exits {p.returncode} without a result")


def metric_lists():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    e2e = [m["name"] for m in b["end_to_end"]]
    assert e2e == [n for n, _ in metrics.E2E] + ["setup_s"], e2e
    assert [(m["name"], m["unit"]) for m in b["per_layer"]] == \
        metrics.PER_LAYER
    print("ok: BENCHMARK.json lists the reported metrics")


if __name__ == "__main__":
    metric_lists()
    bare_directory()
    injected("exception")
    injected("digest")
