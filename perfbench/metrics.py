"""Checks and metrics for one run, computed from the harness result.

An op (a sweep, a recipe run) or a message (tail_stream) that throws or
whose output does not match the expected output counts as failed and gives
no timing sample. End-to-end metrics come from the untraced samples;
per-layer metrics are per-op medians over the traced ops (per-batch medians
on tail_stream) and read 0 where a layer does not take part.
"""
import datetime
import hashlib
import json
import os
import statistics

import gen

E2E = [
    ("latency_p50_ms", "ms"),
    ("latency_p90_ms", "ms"),
    ("throughput_per_s", "items/s"),
    ("peak_rss_mb", "MB"),
]

PER_LAYER = [
    ("flow.parse_ms", "ms"), ("flow.build_ms", "ms"),
    ("flow.build_jobs", "count"), ("flow.fanout_persists", "count"),
    ("flow.attr_inherit_misses", "count"),
    ("el.compile_ms", "ms"), ("el.expressions", "count"),
    ("plan.analysis_ms", "ms"), ("plan.optimization_ms", "ms"),
    ("plan.planning_ms", "ms"), ("plan.queries", "count"),
    ("ops.flowfiles_in", "count"), ("ops.flowfiles_out", "count"),
    ("ops.failure_share", "ratio"), ("ops.error_rate", "ratio"),
    ("pipeline.build_ms", "ms"), ("pipeline.write_ms", "ms"),
    ("pipeline.barrier_jobs", "count"), ("pipeline.barrier_ms", "ms"),
    ("streaming.batches", "count"), ("streaming.batch_ms_p50", "ms"),
    ("streaming.batch_ms_p90", "ms"), ("streaming.latest_offset_ms", "ms"),
    ("streaming.query_planning_ms", "ms"), ("streaming.add_batch_ms", "ms"),
    ("streaming.wal_commit_ms", "ms"), ("streaming.commit_offsets_ms", "ms"),
    ("streaming.trigger_wait_ms", "ms"), ("streaming.rows_per_batch", "count"),
    ("streaming.state_rows", "count"), ("streaming.state_bytes", "bytes"),
    ("streaming.state_commit_ms", "ms"),
    ("streaming.backlog_lines_max", "count"),
    ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.task_run_ms", "ms"), ("exec.task_cpu_ms", "ms"),
    ("exec.sched_delay_ms", "ms"), ("exec.driver_only_ms", "ms"),
    ("exec.busy_cores", "cores"), ("exec.skew_max_over_median", "ratio"),
    ("exec.failed_tasks", "count"),
    ("shuffle.write_bytes", "bytes"), ("shuffle.read_bytes", "bytes"),
    ("shuffle.fetch_wait_ms", "ms"), ("spill.bytes", "bytes"),
    ("scan.bytes_read", "bytes"), ("sink.bytes_written", "bytes"),
    ("jvm.gc_ms", "ms"), ("jvm.heap_used_peak_mb", "MB"),
    ("trace.overhead_ms", "ms"),
]

KNOWN_DEFECT = ("known defect: SplitText children do not inherit their "
                "parent's attributes, so merged FlowFiles lose filename, "
                "path, absolute.path and kind")


class BenchError(Exception):
    pass


def pct(xs, q):
    """Linear-interpolated percentile, q in [0, 100]."""
    s = sorted(xs)
    if not s:
        raise BenchError("no samples")
    pos = (len(s) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def union_ms(intervals, lo, hi):
    """Length of the union of [a, b] intervals clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def metric(value, unit, n):
    return {"value": float(value), "unit": unit, "n": n}


def self_times(spans):
    """Per layer: span duration minus the time its child spans cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        dur = (s["end_ns"] - s["start_ns"]) / 1e6
        kids = sum((c["end_ns"] - c["start_ns"]) / 1e6
                   for c in children.get(s["id"], []))
        out[s["layer"]] = out.get(s["layer"], 0.0) + dur - kids
    return out


def evaluate(workload, out, data, run_dir, inject_digest, trace, cache_dir):
    if workload == "tail_stream":
        rec = tail(out, data, run_dir, inject_digest, trace)
    else:
        rec = closed(workload, out, data, run_dir, inject_digest, trace,
                     cache_dir)
    rec["error_rate"] = rec["failed"] / rec["attempted"]
    rec["correct"] = rec["failed"] == 0
    rec["e2e"]["peak_rss_mb"] = metric(out["jvm"]["vm_hwm_kb"] / 1024.0,
                                       "MB", 1)
    rec["e2e"] = {n: rec["e2e"][n] for n, _ in E2E}
    if trace:
        rec["per_layer"]["ops.error_rate"] = metric(rec["error_rate"],
                                                    "ratio", rec["attempted"])
        rec["per_layer"]["jvm.heap_used_peak_mb"] = metric(
            out["jvm"]["heap_peak_bytes"] / 2 ** 20, "MB", 1)
        rec["per_layer"] = {n: rec["per_layer"].get(n, metric(0, u, 0))
                            for n, u in PER_LAYER}
        rec["spans"] = out["spans"]
        rec["jobs"] = out.get("jobs", [])
    return rec


# ------------------------------------------------------------ closed loops

def flow_check(op, expected, corrupt):
    exp = expected[op["key"]]
    for proc in ("putLogs", "putEvents"):
        got, e = op["outputs"].get(proc), exp[proc]
        want = "corrupted" if corrupt else e["digest"]
        if got is None:
            return f"{proc}: no output"
        if got["relationships"] != {"success": e["success"]}:
            return f"{proc}: relationships {got['relationships']}"
        if got["files"] != e["success"]:
            return f"{proc}: {got['files']} files written"
        if gen.digest(got["md5"]) != want:
            return f"{proc}: content digest mismatch"
    return None


def dclm_oracle(run_dir, data, cache_dir):
    """SparkEntry.oracleSql("dclm_e2e") in DuckDB, once per corpus."""
    import duckdb
    with open(os.path.join(run_dir, "oracle.sql")) as f:
        sql = f.read()
    key = hashlib.sha256((sql + data["sha256"]).encode()).hexdigest()
    path = os.path.join(cache_dir, "oracle", key + ".json")
    if os.path.exists(path):
        with open(path) as f:
            return [tuple(r) for r in json.load(f)]
    con = duckdb.connect()
    con.execute("SET threads TO %d" % len(os.sched_getaffinity(0)))
    con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet('%s')"
                % data["corpus"])
    rows = [tuple(r) for r in con.execute(sql).fetchall()]
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(rows, f)
    return rows


def dclm_check(op, oracle, corrupt):
    import duckdb
    rows = duckdb.connect().execute(
        "SELECT doc_id, n_segments, n_dropped, prob_micro, kept FROM "
        "read_parquet('%s/*.parquet') ORDER BY doc_id" % op["output"]
    ).fetchall()
    if corrupt:
        rows = rows[1:]
    if [tuple(r) for r in rows] != oracle:
        return f"{len(rows)} rows differ from the DuckDB oracle " \
               f"({len(oracle)} rows)"
    return None


def closed(workload, out, data, run_dir, inject_digest, trace, cache_dir):
    ops = [o for o in out["ops"] if o["phase"] == "measure"]
    if workload == "flow_sweep":
        def check(o, corrupt):
            return flow_check(o, data, corrupt)
    else:
        oracle = dclm_oracle(run_dir, data, cache_dir)

        def check(o, corrupt):
            return dclm_check(o, oracle, corrupt)
    failures = []
    for k, o in enumerate(ops):
        why = o.get("error") if not o["ok"] else \
            check(o, corrupt=inject_digest and k == 1)
        o["ok"] = why is None
        if why:
            failures.append({"op": o["op"], "why": why})
    good = [o for o in ops if o["ok"]]
    plain = [o for o in good if not o["traced"]]
    if not plain:
        raise BenchError("no measured op succeeded: %s" % failures[:3])
    lat = [o["lat_ms"] for o in plain]
    items = sum(o["items"] for o in plain)
    rec = {
        "attempted": len(ops), "failed": len(failures),
        "failures": failures, "samples_ms": lat,
        "sampled_ops": [o["op"] for o in plain],
        "e2e": {
            "latency_p50_ms": metric(statistics.median(lat), "ms", len(lat)),
            "latency_p90_ms": metric(pct(lat, 90), "ms", len(lat)),
            "throughput_per_s": metric(items / (sum(lat) / 1000.0),
                                       "items/s", len(lat)),
        },
        "notes": [],
    }
    if workload == "flow_sweep":
        misses = [o["attr_inherit_misses"] for o in good]
        rec["attr_inherit_misses"] = statistics.median(misses)
        rec["notes"].append(
            f"flow.attr_inherit_misses {statistics.median(misses):g} per "
            f"sweep of {gen.LOG_FILES_PER_POLL} merged FlowFiles ({KNOWN_DEFECT})")
    if trace:
        traced = [o for o in good if o["traced"]]
        if not traced:
            raise BenchError("no traced op succeeded")
        rec["per_layer"] = closed_layers(workload, traced, out)
        overhead = statistics.median(o["lat_ms"] for o in traced) - \
            statistics.median(lat)
        rec["per_layer"]["trace.overhead_ms"] = metric(overhead, "ms",
                                                       len(traced))
        st = self_times(out["spans"])
        rec["self_time_ms_per_op"] = {k: v / len(traced)
                                      for k, v in st.items()}
        rec["tracing_overhead_ms"] = overhead
        # jobs attributed to phase and call site, e.g. the eager Staging
        # barriers and the Classifier collects of the dclm build
        sites = {}
        for o in traced:
            for j in op_jobs(out, o["op"]):
                key = j["group"].split(":")[1] + " " + j["call_site"]
                sites[key] = sites.get(key, 0) + 1.0 / len(traced)
        rec["jobs_per_op_by_call_site"] = sites
    return rec


def op_jobs(out, i):
    """Jobs of op i, without the untimed post-op counting jobs."""
    return [j for j in out["jobs"] if j["group"].startswith(f"op{i}:")
            and not j["group"].endswith(":post")]


def exec_sums(jobs, lo_ms, hi_ms, wall_ms):
    """Counters of a set of jobs run inside [lo, hi] (one op or batch)."""
    def s(k):
        return sum(j[k] for j in jobs)
    covered = union_ms([(j["start_ms"], j["end_ms"]) for j in jobs],
                       lo_ms, hi_ms)
    return {
        "exec.jobs": len(jobs), "exec.stages": s("stages"),
        "exec.tasks": s("tasks"), "exec.task_run_ms": s("task_run_ms"),
        "exec.task_cpu_ms": s("task_cpu_ms"),
        "exec.sched_delay_ms": s("sched_delay_ms"),
        "exec.driver_only_ms": max(0.0, wall_ms - covered),
        "exec.busy_cores": s("task_run_ms") / wall_ms if wall_ms else 0.0,
        "exec.skew_max_over_median": max([j["skew"] for j in jobs] or [0]),
        "exec.failed_tasks": s("failed_tasks"),
        "shuffle.write_bytes": s("shuffle_write_bytes"),
        "shuffle.read_bytes": s("shuffle_read_bytes"),
        "shuffle.fetch_wait_ms": s("fetch_wait_ms"),
        "spill.bytes": s("spill_bytes"),
        "scan.bytes_read": s("bytes_read"),
        "sink.bytes_written": s("bytes_written"),
    }


def plan_sums(queries, lo_ms, hi_ms):
    qs = [q for q in queries if lo_ms <= q["start_ms"] <= hi_ms]
    return {
        "plan.analysis_ms": sum(q["analysis_ms"] for q in qs),
        "plan.optimization_ms": sum(q["optimization_ms"] for q in qs),
        "plan.planning_ms": sum(q["planning_ms"] for q in qs),
        "plan.queries": len(qs),
    }


def medians(rows, units):
    keys = rows[0].keys()
    return {k: metric(statistics.median(r[k] for r in rows), units[k],
                      len(rows)) for k in keys}


def closed_layers(workload, traced, out):
    units = dict(PER_LAYER)
    spans = out["spans"]
    rows = []
    for o in traced:
        i = o["op"]
        lo, hi = o["op_start_ns"] / 1e6, o["op_end_ns"] / 1e6
        jobs = op_jobs(out, i)

        def span_ms(name):
            return sum((s["end_ns"] - s["start_ns"]) / 1e6 for s in spans
                       if s["op"] == i and s["name"] == name)
        # jobs started while the flow or the recipe DataFrame was built
        build = [j for j in jobs if j["group"] == f"op{i}:build"]
        row = exec_sums(jobs, lo, hi, hi - lo)
        row.update(plan_sums(out["queries"], lo, hi))
        row["jvm.gc_ms"] = o["gc_ms"]
        if workload == "flow_sweep":
            row.update({
                "flow.parse_ms": span_ms("flow.parse"),
                "flow.build_ms": span_ms("flow.build"),
                "flow.build_jobs": len(build),
                "flow.fanout_persists": o["fanout_persists"],
                "flow.attr_inherit_misses": o["attr_inherit_misses"],
                "el.compile_ms": span_ms("el.compile"),
                "el.expressions": o["el_expressions"],
                "ops.flowfiles_in": o["items"],
                "ops.flowfiles_out": o["flowfiles_out"],
                "ops.failure_share": o["failure_share"],
            })
        else:
            row.update({
                "pipeline.build_ms": span_ms("pipeline.build"),
                "pipeline.write_ms": span_ms("pipeline.write"),
                "pipeline.barrier_jobs": len(build),
                "pipeline.barrier_ms": union_ms(
                    [(j["start_ms"], j["end_ms"]) for j in build], lo, hi),
                "ops.flowfiles_in": o["items"],
            })
        rows.append(row)
    return medians(rows, units)


# ------------------------------------------------------------- tail_stream

def iso_ms(ts):
    return datetime.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=datetime.timezone.utc).timestamp() * 1000.0


def batches(out):
    bs = []
    for p in out["progress"]:
        p = json.loads(p)
        start = iso_ms(p["timestamp"])
        d = p["durationMs"]
        st = p.get("stateOperators") or [{}]
        bs.append({
            "id": p["batchId"], "start_ms": start,
            "end_ms": start + d.get("triggerExecution", 0),
            "dur_ms": d.get("triggerExecution", 0), "dur": d,
            "rows": p["numInputRows"],
            "state_rows": st[0].get("numRowsTotal", 0),
            "state_bytes": st[0].get("memoryUsedBytes", 0),
            "state_commit_ms": st[0].get("commitTimeMs", 0),
        })
    return sorted(bs, key=lambda b: b["id"])


def sink_rows(run_dir):
    """(batch commit time in s, relationship, content) of every sink row:
    a parquet file belongs to the first batch committed after it."""
    import pyarrow.parquet as pq
    commits_dir = os.path.join(run_dir, "checkpoint", "commits")
    commits = sorted(os.stat(os.path.join(commits_dir, f)).st_mtime_ns
                     for f in os.listdir(commits_dir) if f.isdigit())
    rows = []
    sink = os.path.join(run_dir, "sink")
    for rel_dir in os.listdir(sink) if os.path.isdir(sink) else []:
        if not rel_dir.startswith("relationship="):
            continue
        rel = rel_dir.split("=", 1)[1]
        for f in os.listdir(os.path.join(sink, rel_dir)):
            if not f.endswith(".parquet"):
                continue
            path = os.path.join(sink, rel_dir, f)
            mtime = os.stat(path).st_mtime_ns
            commit = next((c for c in commits if c >= mtime), None)
            for c in pq.read_table(path, columns=["content"]).column(0):
                rows.append((None if commit is None else commit / 1e9,
                             rel, c.as_py()))
    return rows


def tail(out, data, run_dir, inject_digest, trace):
    plan = data["plan"]
    with open(data["stamps"]) as f:
        stamps = json.load(f)
    expected, due = dict(data["drain"]), {}
    for k, m, l, d, _ in stamps:
        if l == 0 and m > 0:
            mid, lines = plan[k][m - 1]
            expected[mid] = "\n".join(lines) + "\n"
            due[mid] = d
    if inject_digest:
        victim = sorted(due)[len(due) // 2]
        expected[victim] += "corrupted"
    seen, altered, unexpected, commit_of = {}, 0, 0, {}
    for commit, rel, content in sink_rows(run_dir):
        mid = content[1:content.find(">")] if content.startswith("<") else ""
        if mid not in expected:
            unexpected += 1
            continue
        seen[mid] = seen.get(mid, 0) + 1
        if rel != "success" or content != expected[mid] or commit is None:
            altered += 1
        else:
            commit_of[mid] = commit
    lost = sum(1 for mid in expected if mid not in seen)
    dups = sum(n - 1 for n in seen.values())
    failed = lost + dups + altered + unexpected
    meas = out["measure"]
    t0, tmid, t1 = (meas["start_ns"] / 1e9, meas["traced_from_ns"] / 1e9,
                    meas["end_ns"] / 1e9)

    def lat(lo, hi):
        return [(commit_of[m] - d) * 1000.0 for m, d in due.items()
                if lo <= d < hi and m in commit_of and seen.get(m) == 1]
    plain = lat(t0, tmid)
    if len(plain) < 10:
        raise BenchError(f"only {len(plain)} latency samples")
    bs = batches(out)
    drain_lo = out["drain"]["start_ns"] / 1e6
    drain = [b for b in bs if b["end_ms"] > drain_lo and b["rows"] > 0]
    if not drain:
        raise BenchError("no drain batches")
    rec = {
        "attempted": len(expected), "failed": failed,
        "failures": {"lost": lost, "duplicated": dups, "altered": altered,
                     "unexpected": unexpected},
        "samples_ms": plain,
        "e2e": {
            "latency_p50_ms": metric(statistics.median(plain), "ms",
                                     len(plain)),
            "latency_p90_ms": metric(pct(plain, 90), "ms", len(plain)),
            # median over the drain rounds: one slow round (a storage
            # stall under PutFile's many small files) does not move it
            "throughput_per_s": metric(
                statistics.median(b["rows"] / (b["dur_ms"] / 1000.0)
                                  for b in drain), "items/s", len(drain)),
        },
        "drain_batches": [(b["rows"], b["dur_ms"]) for b in drain],
        "generator_late_ms": {
            "p50": statistics.median((s[4] - s[3]) * 1000 for s in stamps),
            "max": max((s[4] - s[3]) * 1000 for s in stamps)},
        "notes": [],
    }
    measured = [b for b in bs if b["start_ms"] >= t0 * 1000 and
                b["end_ms"] <= t1 * 1000 and b["rows"] > 0]
    backlog = backlogs(stamps, bs, measured)
    rec["backlog_lines"] = backlog
    rec["trigger_period_ms"] = out["trigger_period_ms"]
    if trace:
        traced = [b for b in measured if b["start_ms"] >= tmid * 1000]
        if not traced:
            raise BenchError("no traced batches")
        rec["per_layer"] = tail_layers(out, bs, traced, backlog,
                                       len(measured))
        overhead = statistics.median(lat(tmid, t1)) - \
            statistics.median(plain)
        rec["per_layer"]["trace.overhead_ms"] = metric(overhead, "ms",
                                                       len(traced))
        rec["self_time_ms"] = self_times(out["spans"])
        rec["tracing_overhead_ms"] = overhead
    return rec


def backlogs(stamps, bs, measured):
    """Lines appended but not yet taken by a batch, at each measured
    batch's start (the set-up drain rounds end before the first append)."""
    appended = sorted(s[4] * 1000.0 for s in stamps)
    live = [x for x in bs if x["end_ms"] > appended[0]]
    out = []
    for b in measured:
        consumed = sum(x["rows"] for x in live if x["id"] < b["id"])
        n = sum(1 for t in appended if t < b["start_ms"])
        out.append(n - consumed)
    return out


def tail_layers(out, bs, traced, backlog, n_measured):
    units = dict(PER_LAYER)
    rows = []
    prev = {b["id"]: b for b in bs}
    for b in traced:
        jobs = [j for j in out["jobs"] if j["batch"] == str(b["id"])]
        row = exec_sums(jobs, b["start_ms"], b["end_ms"], b["dur_ms"])
        row.update(plan_sums(out["queries"], b["start_ms"], b["end_ms"]))
        p = prev.get(b["id"] - 1)
        d = b["dur"]
        row.update({
            "streaming.latest_offset_ms": d.get("latestOffset", 0),
            "streaming.query_planning_ms": d.get("queryPlanning", 0),
            "streaming.add_batch_ms": d.get("addBatch", 0),
            "streaming.wal_commit_ms": d.get("walCommit", 0),
            "streaming.commit_offsets_ms": d.get("commitOffsets", 0),
            "streaming.trigger_wait_ms":
                b["start_ms"] - p["end_ms"] if p else 0,
            "streaming.rows_per_batch": b["rows"],
            "streaming.state_rows": b["state_rows"],
            "streaming.state_bytes": b["state_bytes"],
            "streaming.state_commit_ms": b["state_commit_ms"],
            "ops.flowfiles_in": b["rows"],
        })
        rows.append(row)
    res = medians(rows, units)
    durs = [b["dur_ms"] for b in traced]
    spans = {s["name"]: (s["end_ns"] - s["start_ns"]) / 1e6
             for s in out["spans"]}
    res.update({
        "streaming.batches": metric(len(traced), "count", 1),
        "streaming.batch_ms_p50": metric(statistics.median(durs), "ms",
                                         len(durs)),
        "streaming.batch_ms_p90": metric(pct(durs, 90), "ms", len(durs)),
        "streaming.backlog_lines_max": metric(max(backlog), "count",
                                              len(backlog)),
        "flow.parse_ms": metric(spans.get("flow.parse", 0), "ms", 1),
        "flow.build_ms": metric(spans.get("streaming.assemble", 0), "ms", 1),
        "jvm.gc_ms": metric(out["measure"]["gc_ms"] / max(1, n_measured),
                            "ms", n_measured),
    })
    return res
