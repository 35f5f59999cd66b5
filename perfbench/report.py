"""Turns the harness's raw result into the benchmark's metrics, checks the
results, and prints them: one short line per metric, then the JSON line."""
import json
import os
import platform
import sys
from collections import defaultdict

import stats
from oracle import Oracle

E2E_UNITS = {"setup_s": "s", "wall_s": "s", "query_p50_s": "s",
             "throughput_qps": "1/s", "heap_live_mb": "MB"}

# Per-layer metrics: summed over the roster, one execution per query.
LAYER_UNITS = {
    "tables.load_s": "s", "build.jobs": "count", "build.time_s": "s",
    "plan.analysis_s": "s", "plan.optimization_s": "s", "plan.planning_s": "s",
    "codegen.compiles": "count", "codegen.compile_s": "s",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.task_wait_s": "s", "sched.slot_util": "ratio", "driver.gap_s": "s",
    "exec.task_run_s": "s", "exec.task_cpu_s": "s", "exec.task_gc_s": "s",
    "exec.scan_bytes": "bytes", "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes", "exec.shuffle_fetch_wait_s": "s",
    "exec.spill_bytes": "bytes", "write.bytes": "bytes", "write.records": "count",
    "stream.batches": "count", "stream.batch_s": "s", "stream.state_rows": "count",
    "hygiene.clear_s": "s", "hygiene.cached_rdds": "count",
    "jvm.gc_s": "s", "jvm.jit_s": "s",
    "oracle.checked": "count", "oracle.mismatched": "count",
    "span.query_self_s": "s", "span.build_self_s": "s", "span.action_self_s": "s",
    "span.plan_self_s": "s", "span.job_self_s": "s", "span.stage_self_s": "s",
    "span.self_residual_s": "s",
    "trace.overhead_p50_s": "s", "trace.overhead_wall_s": "s",
}

DEPTH = {"query": 0, "build": 1, "action": 1, "plan": 2, "job": 2, "stage": 3}


def check_results(result, oracle_sql, fixtures, cache_dir):
    """Per query: None when its check-pass result is correct, else why."""
    verdict = {}
    oracle = Oracle(fixtures, cache_dir)
    try:
        for rec in result["check"]:
            q = rec["q"]
            if not rec["ok"]:
                verdict[q] = f"check pass failed: {rec['err']}"
            elif q in oracle_sql:
                verdict[q] = oracle.check(oracle_sql[q], rec["dump"])
            elif rec["rows"] == 0:
                verdict[q] = "no rows"
            else:
                verdict[q] = None
    finally:
        oracle.close()
    return verdict


def exec_failure(ex, check_by_q, verdict):
    """Why a timed execution failed, or None."""
    if not ex["ok"]:
        return ex["err"]
    if verdict.get(ex["q"]):
        return verdict[ex["q"]]
    c = check_by_q[ex["q"]]
    if (ex["rows"], ex["hash"]) != (c["rows"], c["hash"]):
        return f"result differs from the checked one ({ex['rows']} rows)"
    return None


def end_to_end(result, window):
    """`wall_s` is one pass's worth of query time: the sum over the roster
    of each query's median latency, steadier than the few pass times.
    `throughput_qps` is one execution per query over that time."""
    execs = window["execs"]
    ok = [ex for ex in execs if ex["ok"]]
    lat = [(ex["e"] - ex["s"]) / 1e3 for ex in ok]
    by_query = defaultdict(list)
    for ex in ok:
        by_query[ex["q"]].append((ex["e"] - ex["s"]) / 1e3)
    wall = sum(stats.median(v) for v in by_query.values())
    p50, n = stats.percentile(lat, 50)
    return {
        "setup_s": stats.median(result["setups_s"]),
        "wall_s": wall,
        "query_p50_s": p50,
        "throughput_qps": len(by_query) / wall,
        "heap_live_mb": stats.median(window["heap_mb"]),
    }, {"query_p50_s": n, "wall_s": len({ex["p"] for ex in execs})}


def attribute(window):
    """Events of the traced window, grouped by the execution they belong to.
    Events tagged with an execution's job group go to it; untagged ones
    (streaming micro-batches run in the stream's own group) go to the
    execution running at that time when exactly one is."""
    execs = window["execs"]
    by_group = {ex["g"]: ex for ex in execs}
    exec_group = {}
    for ev in window["events"]:
        if ev["t"] == "exec":
            exec_group[ev["exec"]] = ev["g"]
    grouped = defaultdict(lambda: defaultdict(list))

    def owner(group, t):
        if group in by_group:
            return group
        live = [ex["g"] for ex in execs if ex["s"] <= t <= ex["e"]]
        return live[0] if len(live) == 1 else None

    for ev in window["events"]:
        kind = ev["t"]
        if kind == "exec":
            continue
        group = exec_group.get(ev["exec"], "") if kind == "plan" else ev.get("g", "")
        g = owner(group, ev["s"])
        if g is not None:
            grouped[g][kind].append(ev)
    return grouped


def per_execution(ex, evs, cpus):
    """Layer metrics and spans of one traced execution."""
    s, b, e = ex["s"], ex["b"], ex["e"]
    jobs, stages, plans, batches = evs["job"], evs["stage"], evs["plan"], evs["batch"]
    action_jobs = [(max(j["s"], b), min(j["e"], e)) for j in jobs if j["e"] > b]
    task_run = sum(st["run_ms"] for st in stages) / 1e3
    action_run = sum(st["run_ms"] for st in stages if st["s"] >= b) / 1e3
    m = {
        "build.jobs": sum(1 for j in jobs if j["s"] < b),
        "build.time_s": (b - s) / 1e3,
        "codegen.compiles": ex["codegen_n"], "codegen.compile_s": ex["codegen_ns"] / 1e9,
        "sched.jobs": len(jobs), "sched.stages": len(stages),
        "sched.tasks": sum(st["tasks"] for st in stages),
        "sched.task_wait_s": sum(st["wait_ms"] for st in stages) / 1e3,
        "driver.gap_s": ((e - b) - stats.union_length(action_jobs)) / 1e3,
        "exec.task_run_s": task_run,
        "exec.task_cpu_s": sum(st["cpu_ns"] for st in stages) / 1e9,
        "exec.task_gc_s": sum(st["gc_ms"] for st in stages) / 1e3,
        "exec.scan_bytes": sum(st["scan_bytes"] for st in stages),
        "exec.shuffle_write_bytes": sum(st["shuffle_write"] for st in stages),
        "exec.shuffle_read_bytes": sum(st["shuffle_read"] for st in stages),
        "exec.shuffle_fetch_wait_s": sum(st["fetch_wait_ms"] for st in stages) / 1e3,
        "exec.spill_bytes": sum(st["spill_bytes"] for st in stages),
        "write.bytes": sum(st["write_bytes"] for st in stages),
        "write.records": sum(st["write_records"] for st in stages),
        "stream.batches": len(batches),
        "stream.batch_s": sum(x["batch_ms"] for x in batches) / 1e3,
        "stream.state_rows": sum(x["state_rows"] for x in batches),
        "hygiene.clear_s": ex["clear_ms"] / 1e3,
        "hygiene.cached_rdds": ex["cached_rdds"],
        "plan.analysis_s": 0.0, "plan.optimization_s": 0.0, "plan.planning_s": 0.0,
    }
    for p in plans:
        key = f"plan.{p['phase']}_s"
        if key in m:
            m[key] += (p["e"] - p["s"]) / 1e3
    spans = ([{"kind": "query", "s": s, "e": e}, {"kind": "build", "s": s, "e": b},
              {"kind": "action", "s": b, "e": e}]
             + [{"kind": "plan", "name": p["phase"], "s": p["s"], "e": p["e"]} for p in plans]
             + [{"kind": "job", "id": j["id"], "s": j["s"], "e": j["e"]} for j in jobs]
             + [{"kind": "stage", "id": st["id"], "s": st["s"], "e": st["e"]} for st in stages])
    for sp in spans:
        sp["depth"] = DEPTH[sp["kind"]]
    selfs = stats.self_times(spans)
    for sp, t in zip(spans, selfs):
        sp["self"] = t
        key = f"span.{sp['kind']}_self_s"
        m[key] = m.get(key, 0.0) + t / 1e3
    for k in ("query", "build", "action", "plan", "job", "stage"):
        m.setdefault(f"span.{k}_self_s", 0.0)
    m["span.self_residual_s"] = abs(sum(selfs) - (e - s)) / 1e3
    m["sched.slot_util"] = action_run / ((e - b) / 1e3 * cpus) if e > b else 0.0
    return m, spans, action_run, (e - b) / 1e3


def per_layer(result, windows, roster, verdict, oracle_sql, cpus):
    before, traced, after = windows
    grouped = attribute(traced)
    per_query = defaultdict(lambda: defaultdict(list))
    all_spans = []
    run_total = action_total = residual = 0.0
    for ex in traced["execs"]:
        if not ex["ok"]:
            continue
        m, spans, action_run, action_wall = per_execution(ex, grouped[ex["g"]], cpus)
        run_total += action_run
        action_total += action_wall
        residual = max(residual, m["span.self_residual_s"])
        for k, v in m.items():
            per_query[ex["q"]][k].append(v)
        all_spans.append({"g": ex["g"], "q": ex["q"], "spans": spans})
    layers = {q: {k: sum(v) / len(v) for k, v in ms.items()} for q, ms in per_query.items()}
    executions = sum(len(ms["build.time_s"]) for ms in per_query.values())
    passes = executions / len(roster) if roster else 1.0
    metrics = {k: 0.0 for k in LAYER_UNITS}
    for q, ms in layers.items():
        for k, v in ms.items():
            if k in metrics and k != "span.self_residual_s":
                metrics[k] += v
    metrics["span.self_residual_s"] = residual
    metrics["sched.slot_util"] = run_total / (action_total * cpus) if action_total else 0.0
    metrics["tables.load_s"] = sum(traced["tables_s"].values())
    metrics["jvm.gc_s"] = traced["gc_ms"] / 1e3 / passes
    metrics["jvm.jit_s"] = traced["jit_ms"] / 1e3 / passes
    metrics["oracle.checked"] = sum(1 for q in verdict if q in oracle_sql)
    metrics["oracle.mismatched"] = sum(1 for q, v in verdict.items() if q in oracle_sql and v)
    # The untraced windows on either side cancel the JVM's warming between
    # windows.
    e2e_t, _ = end_to_end(result, traced)
    e2e_u = [end_to_end(result, w)[0] for w in (before, after)]
    for key, metric in (("query_p50_s", "trace.overhead_p50_s"), ("wall_s", "trace.overhead_wall_s")):
        metrics[metric] = e2e_t[key] - (e2e_u[0][key] + e2e_u[1][key]) / 2
    return metrics, layers, all_spans


def report(args, stamp, result, roster, cpus, fixtures, build_dir, out_dir):
    oracle_sql = result["oracle"]
    verdict = check_results(result, oracle_sql, fixtures, os.path.join(build_dir, "oracle-cache"))
    check_by_q = {c["q"]: c for c in result["check"]}
    attempted = failed = 0
    reasons = {}
    for w in result["windows"]:
        for ex in w["execs"]:
            attempted += 1
            why = exec_failure(ex, check_by_q, verdict)
            if why:
                failed += 1
                reasons.setdefault(ex["q"], why)
    env = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "source": stamp[:16], "nproc": os.cpu_count(),
        "machine": platform.machine(), **result["env"],
        "check_s": round(result["check_s"], 3), "setups_s": result["setups_s"],
        "heap_mb": [round(h, 1) for h in result["windows"][0]["heap_mb"]],
    }
    print("env " + json.dumps(env, separators=(",", ":")))
    for q, why in sorted(reasons.items()):
        print(f"failed {q}: {why}"[:300])
    print(f"failed_frac {failed / max(attempted, 1):.6f} ({failed}/{attempted})")

    windows = result["windows"]
    if args.trace:
        metrics, layers, spans = per_layer(result, windows, roster, verdict, oracle_sql, cpus)
        units = LAYER_UNITS
    else:
        metrics, counts = end_to_end(result, windows[0])
        layers, spans = None, None
        units = E2E_UNITS
        print(f"samples query={counts['query_p50_s']} passes={counts['wall_s']}")
    for k, v in metrics.items():
        print(f"metric {k} {v:.6g} {units[k]}")
    os.makedirs(out_dir, exist_ok=True)
    base = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    latency = defaultdict(list)
    for w in windows:
        for ex in w["execs"]:
            if ex["ok"]:
                latency[ex["q"]].append(round((ex["e"] - ex["s"]) / 1e3, 4))
    with open(base + ".json", "w") as f:
        check_s = {c["q"]: round(c["ms"] / 1e3, 3) for c in result["check"]}
        json.dump({"env": env, "metrics": metrics, "failed": reasons, "latency_s": latency,
                   "check_s": check_s,
                   "per_query": layers}, f, indent=1, sort_keys=True)
    if spans is not None:
        with open(base + "-spans.jsonl", "w") as f:
            for rec in spans:
                f.write(json.dumps(rec, separators=(",", ":")) + "\n")
    out = {"correct": failed == 0, "attempted": attempted, "failed": failed,
           "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}
    print(json.dumps(out, separators=(",", ":")))
    sys.stdout.flush()
