#!/usr/bin/env python3
"""The repo's benchmark: one run of one workload.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Workloads (see BENCHMARK.json for why each exists):
  flow_sweep   closed loop, one client: FlowConfig.parse + FlowRunner.run of
               a YAML v3 flow over a fresh seeded GetFile poll per op.
  tail_stream  open loop: a separate appender process writes multi-line
               messages at a fixed line rate; the TailFile flow runs as a
               stream into FlowRuntime.relationshipSink; then a fixed
               backlog is drained to measure capacity.
  curate_dclm  closed loop: SparkEntry.queries("dclm_e2e") over a seeded
               multi-replica documents corpus, written as parquet.

The program is built from source on the first run (build.py), inputs are
generated from the seed (gen.py), every op's output is checked, and the last
stdout line is the JSON result. `--trace 1` reports the per-layer metrics
instead of the end-to-end ones and keeps the spans. Every run also writes
its full record (samples, inputs, checks, spans) under
<build dir>/results/ for compare.py.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

# Spark 4 on JDK 17 outside spark-submit needs the module opens that
# spark-submit would add (the same list the repo's build.sbt passes).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# The serial collector sizes the heap from the live set, so peak RSS
# repeats run to run (measured: +-1% against +-25% under G1's adaptive
# sizing and +-7% under the parallel collector) and follows the program's
# memory use. A 1 GiB initial heap keeps its young collections from
# dominating a sweep (measured 700 -> 290 ms of GC per flow_sweep op).
HEAP_START = "1g"
HEAP = "3g"
RUN_LIMIT_S = 170         # every run ends inside the 180 s budget
TAIL_RATE = 400           # lines/s appended by the tail generator
DCLM_REPLICAS = 1         # 5000 documents: op time is job-bound, not data-bound


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def prepare(workload, seed, seconds, run_dir):
    """Generate the workload's inputs; return (plan fields, input info,
    data the checks need)."""
    if workload == "flow_sweep":
        polls = os.path.join(run_dir, "polls")
        # enough polls for the longest warm-up and 10 sweeps a second
        expected, info = gen.flow_polls(seed, 8, 2 + int(seconds * 10),
                                        polls)
        return {"polls_dir": polls}, info, expected
    if workload == "curate_dclm":
        corpus = os.path.join(run_dir, "corpus")
        os.makedirs(corpus)
        info = gen.corpus(seed, DCLM_REPLICAS,
                          os.path.join(corpus, "documents.parquet"))
        return ({"corpus_dir": corpus, "docs": info["docs"]}, info,
                {"corpus": os.path.join(corpus, "documents.parquet"),
                 "sha256": info["sha256"]})
    tail_dir = os.path.join(run_dir, "tail")
    drain_dir = os.path.join(run_dir, "drain")
    os.makedirs(tail_dir)
    os.makedirs(drain_dir)
    drain = gen.drain_files(seed, drain_dir)
    max_s = RUN_LIMIT_S
    stop = os.path.join(run_dir, "appender.stop")
    stamps = os.path.join(run_dir, "appender.json")
    fields = {
        "tail_dir": tail_dir, "drain_dir": drain_dir, "stop_file": stop,
        "appender": [sys.executable, os.path.join(HERE, "gen.py"), "append",
                     str(seed), str(TAIL_RATE), str(max_s), tail_dir, stop,
                     stamps],
    }
    info = {"rate_lines_per_s": TAIL_RATE, "files": gen.TAIL_FILES,
            "drain_lines": gen.DRAIN_ROUNDS * gen.TAIL_FILES *
            gen.DRAIN_LINES_PER_FILE}
    return fields, info, {"drain": drain, "stamps": stamps,
                          "plan": gen.tail_plan(seed, TAIL_RATE, max_s)}


def run_jvm(classpath, plan, run_dir, deadline):
    path = os.path.join(run_dir, "plan.json")
    plan["launched_at_ms"] = int(time.time() * 1000)
    with open(path, "w") as f:
        json.dump(plan, f)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-XX:+UseSerialGC", f"-Xms{HEAP_START}", f"-Xmx{HEAP}",
           "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           "-Dlog4j2.configurationFile=" +
           os.path.join(HERE, "log4j2.properties")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Harness", path]
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                cwd=run_dir)
        try:
            proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError("benchmark JVM exceeded the run time limit")
    result = os.path.join(run_dir, "result.json")
    if proc.returncode != 0 or not os.path.exists(result):
        raise RuntimeError(f"benchmark JVM exited with {proc.returncode}")
    with open(result) as f:
        out = json.load(f)
    os.remove(result)
    if "fatal" in out:
        raise RuntimeError("benchmark JVM failed: " + out["fatal"])
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["flow_sweep", "tail_stream", "curate_dclm"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    # self-test hooks (selftest.py): fail one measured op on purpose
    ap.add_argument("--inject", choices=["none", "exception", "digest"],
                    default="none")
    a = ap.parse_args()
    bdir = build_dir()
    os.makedirs(bdir, exist_ok=True)
    try:
        classpath = build.build(ROOT, bdir)
        deadline = time.time() + RUN_LIMIT_S
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)

    run_dir = os.path.join(bdir, "runs", a.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    fields, inputs, check_data = prepare(a.workload, a.seed, a.seconds,
                                         run_dir)
    cpus = len(os.sched_getaffinity(0))
    plan = {"workload": a.workload, "run_dir": run_dir, "seconds": a.seconds,
            "trace": bool(a.trace), "cpus": cpus,
            "inject_measured_op": 1 if a.inject == "exception" else -1}
    plan.update(fields)
    out = run_jvm(classpath, plan, run_dir, deadline)

    record = metrics.evaluate(a.workload, out, check_data, run_dir,
                              inject_digest=a.inject == "digest",
                              trace=bool(a.trace), cache_dir=bdir)
    record.update({"workload": a.workload, "seed": a.seed,
                   "seconds": a.seconds, "trace": a.trace, "cpus": cpus,
                   "inputs": inputs, "setup_marks": out["setup"],
                   "warmup_ms": [o.get("lat_ms") for o in out["ops"]
                                 if o["phase"] == "warmup"]})
    s = out["setup"]
    record["e2e"]["setup_s"] = {
        "value": (s["ready_ms"] - s["launched_at_ms"]) / 1000.0,
        "unit": "s", "n": 1}
    report(record, a)
    if a.inject == "none":
        shutil.rmtree(run_dir, ignore_errors=True)


def report(record, a):
    chosen = record["per_layer"] if a.trace else record["e2e"]
    print(f"[perfbench] workload={a.workload} seed={a.seed} "
          f"trace={a.trace} cpus={record['cpus']} inputs="
          + json.dumps(record["inputs"], sort_keys=True))
    for name, m in chosen.items():
        print(f"  {name:<34} {m['value']:>14.4f} {m['unit']:<8} "
              f"(n={m['n']})")
    print(f"  {'error_rate':<34} {record['error_rate']:>14.4f} ratio    "
          f"({record['failed']} of {record['attempted']})")
    for note in record.get("notes", []):
        print("  " + note)
    results = os.path.join(build_dir(), "results")
    os.makedirs(results, exist_ok=True)
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(time.time()*1e3)}"
    with open(os.path.join(results, name + ".json"), "w") as f:
        json.dump(record, f)
    print("[perfbench] record: " + os.path.join(results, name + ".json"))
    print(json.dumps({
        "correct": record["correct"],
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": {k: {"value": v["value"], "unit": v["unit"]}
                    for k, v in chosen.items()},
    }))


if __name__ == "__main__":
    main()
