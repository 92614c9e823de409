#!/usr/bin/env python3
"""The repo benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the program and the JVM harness
(`build.py`), generates the workload's inputs from the seed (`gen.py`),
runs the harness in one JVM on `local[cpus]`, checks the outputs
(DuckDB oracle for queries, batch recomputation for the stream), and
prints one JSON line: `correct`, `attempted`, `failed` and the metrics
(end-to-end with `--trace 0`, per-layer with `--trace 1`, names as in
BENCHMARK.json). Everything else goes to stderr and to
`.bench_build/runs/<workload>_c<cpus>_s<seed>_t<trace>/`:
`detail.json` (every sample and check) and, traced, `trace.json` (spans
with self time and per-query / per-batch layer metrics).
"""
import argparse
import filecmp
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
import trace as tr  # noqa: E402


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def same_tree(a, b):
    """Byte-identical directory trees."""
    c = filecmp.dircmp(a, b)
    if c.left_only or c.right_only or c.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, c.common_files, shallow=False)
    return not mismatch and not errors and all(
        same_tree(os.path.join(a, d), os.path.join(b, d)) for d in c.common_dirs)


def generate(workload, seed, seconds, input_dir, cfg):
    """Generate twice (timed) and require byte-identical results: the
    set-up repeat and the determinism check are the same work."""
    times = []
    for d in (input_dir, input_dir + "_again"):
        shutil.rmtree(d, ignore_errors=True)
        t = time.perf_counter()
        gen.generate(workload, seed, seconds, d, cfg)
        times.append(time.perf_counter() - t)
    identical = same_tree(input_dir, input_dir + "_again")
    shutil.rmtree(input_dir + "_again")
    return statistics.median(times), identical


def run_jvm(classpath, request, run_dir):
    req_path = os.path.join(run_dir, "request.json")
    with open(req_path, "w") as f:
        json.dump(request, f)
    out = request["out"]
    cmd = ["java", *build.JVM_FLAGS, f"-XX:SharedArchiveFile={build.archive(os.getcwd())}",
           f"-Djava.io.tmpdir={out}/tmp", "-cp", classpath, "perfbench.Harness", req_path]
    os.makedirs(f"{out}/tmp", exist_ok=True)
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        jvm = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = jvm.wait(timeout=170)
        finally:  # never leave the JVM behind, whatever ends this process
            if jvm.poll() is None:
                jvm.kill()
                jvm.wait()
    if rc != 0:
        raise RuntimeError(f"harness exited {rc}; see {run_dir}/jvm.log")
    with open(f"{out}/raw.json") as f:
        return json.load(f)


# per-layer metric names each workload kind produces; every other declared
# per-layer metric reads 0 on that kind (its layer does not run there)
EXEC_LAYERS = (
    "queries.analysis_ms", "queries.optimization_ms", "queries.planning_ms", "queries.actions",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.sched_wait_ms", "exec.local_checkpoints",
    "exec.task_busy_s", "exec.shuffle_write_bytes", "exec.shuffle_read_bytes",
    "exec.spill_bytes", "exec.scan_bytes", "exec.scan_rows", "exec.failed_tasks",
    "sinks.write_ms", "sinks.bytes_written", "sinks.files_written",
    "catalog.ddl_ops", "catalog.ddl_ms") + tuple(
    f"operators.{f}.{k}" for f in tr.OPERATOR_FILES for k in ("jobs", "job_s"))
BATCH_LAYERS = EXEC_LAYERS + (
    "queries.build_ms", "exec.parallel_eff", "exec.exchanges", "exec.rows_per_result_row",
    "exec.gc_ms")
STREAM_LAYERS = EXEC_LAYERS + ("exec.gc_ms", "exec.parallel_eff",
    "streaming.batches", "streaming.rows_per_batch", "streaming.add_batch_ms",
    "streaming.planning_ms", "streaming.wal_commit_ms", "streaming.commit_offsets_ms",
    "streaming.latest_offset_ms", "streaming.state_rows", "streaming.state_mem_bytes",
    "streaming.state_commit_ms", "streaming.late_rows_dropped", "streaming.backlog_files",
    "generator.lag_ms", "operators.cdc_table.upsert_ms", "operators.cdc_table.compact_ms",
    "operators.cdc_table.snapshot_ms", "operators.cdc_table.delta_commits",
    "operators.cdc_table.write_amp", "operators.cdc_table.space_amp")


def batch_metrics(raw, cfg, wcfg, out, input_dir, traced):
    """Samples, checks and layer metrics of the batch workload."""
    ops = [o for o in raw["ops"] if o["ok"]]
    untraced = [p for p in raw["passes"] if not p["traced"]] or raw["passes"]
    walls = [(p["end"] - p["start"]) / 1000 for p in untraced]
    lat = tr.summarize([o["ms"] for o in ops if o["pass"] in {p["pass"] for p in untraced}])
    ocheck = oracle.compare_all(input_dir, os.path.join(out, "results"))
    failed = len(raw["failures"]) + sum(1 for v in ocheck.values() if not v["ok"])
    attempted = len(raw["ops"]) + len(wcfg["queries"])
    detail = {"walls_s": walls, "latency_ms": lat, "oracle": ocheck,
              "exchanges": raw["exchanges"], "failures": raw["failures"],
              "ops": raw["ops"], "passes": raw["passes"]}
    layers, per_trace, spans = {}, {}, []
    if traced:
        spans = tr.build_spans(raw["records"])
        per_trace = tr.trace_layers(spans)
        result_rows = oracle.result_rows(os.path.join(out, "results"))
        tp = [p for p in raw["passes"] if p["traced"]]
        per_pass = []
        for p in tp:
            m = {}
            for q in wcfg["queries"]:
                for k, v in per_trace.get(f"{q}#{p['pass']}", {}).items():
                    m[k] = m.get(k, 0) + v
            wall = (p["end"] - p["start"]) / 1000
            m["exec.parallel_eff"] = m.get("exec.task_busy_s", 0) / (wall * cfg["cpus"])
            m["exec.exchanges"] = sum(raw["exchanges"].values())
            m["exec.rows_per_result_row"] = m.pop("materialize_operator_rows", 0) / max(1, sum(result_rows.values()))
            m["exec.gc_ms"] = p["gc_ms"]
            per_pass.append(m)
        layers = {k: statistics.median(m.get(k, 0) for m in per_pass) for k in BATCH_LAYERS}
        tw = [(p["end"] - p["start"]) / 1000 for p in tp]
        layers["trace.overhead_pct"] = 100 * (statistics.median(tw) / statistics.median(walls) - 1) \
            if len(tp) < len(raw["passes"]) else 0.0
    return {"wall_s": statistics.median(walls), "lat": lat, "attempted": attempted,
            "failed": failed, "detail": detail, "layers": layers,
            "per_trace": per_trace, "spans": spans}


def stream_metrics(raw, cfg, input_dir, traced):
    """Samples, checks and layer metrics of cdc_stream."""
    with open(os.path.join(input_dir, "manifest.json")) as f:
        man = json.load(f)
    file_batch = tr.load_source_log(raw["source_log"])
    lat, lost = tr.event_latencies(raw["generator"], raw["commits"], file_batch, man["tick_events"])
    c = raw["checks"]
    checks = {
        "snapshot": c["snapshot_mismatch_rows"] == 0,
        "summary": c["summary_mismatch_rows"] == 0,
        # numRowsDroppedByWatermark counts partial-aggregate rows (one per
        # window x segment x partition), not input rows, so it cannot equal
        # the generator's row count; the summary check above is the exact
        # one (every beyond-tolerance row dropped, no on-time row lost)
        "late_rows_dropped": c["late_rows_dropped"] > 0 or c["beyond_tolerance_rows"] == 0,
    }
    drains = [d for d in raw["drains"] if not d["traced"]] or raw["drains"]
    offered = sum(man["tick_events"]) + sum(man["backlog_events"])
    lost += sum(man["backlog_events"][d["chunk"]] for d in raw["drains"]
                if any(f["op"] == f"drain {d['chunk']}" for f in raw["failures"]))
    failed = lost + sum(1 for ok in checks.values() if not ok) + \
        sum(1 for f in raw["failures"] if f["op"] == "open_loop")
    detail = {"latency_ms": tr.summarize(lat) if lat else None, "events_lost": lost,
              "checks": c, "checks_ok": checks, "drains": raw["drains"],
              "failures": raw["failures"], "generator_ticks": len(raw["generator"]),
              "batches": len({c["batch"] for c in raw["commits"] if c["query"] == "cdc"})}
    layers, per_trace, spans = {}, {}, []
    if traced:
        progress = [r["json"] for r in raw["records"] if r["kind"] == "progress"]
        spans = tr.build_spans(raw["records"], progress)
        per_trace = tr.trace_layers(spans)
        layers = stream_layers(raw, progress, per_trace, file_batch, spans, cfg)
        tw = [d["wall_s"] for d in raw["drains"] if d["traced"]]
        layers["trace.overhead_pct"] = 100 * (statistics.median(tw) / statistics.median(
            d["wall_s"] for d in drains) - 1) if tw and len(tw) < len(raw["drains"]) else 0.0
    return {"wall_s": statistics.median(d["wall_s"] for d in drains),
            "lat": tr.summarize(lat) if lat else None,
            "attempted": offered + len(checks) + 1, "failed": failed,
            "detail": detail, "layers": layers, "per_trace": per_trace, "spans": spans}


def stream_layers(raw, progress, per_trace, file_batch, spans, cfg):
    """Layer metrics of the traced open loop (+ traced drains)."""
    ps = [json.loads(p) for p in progress]
    cdc = [p for p in ps if p.get("name") == "cdc" and p["numInputRows"] > 0]
    win = [p for p in ps if p.get("name") == "windows"]
    mean = lambda xs: statistics.fmean(xs) if xs else 0.0  # noqa: E731
    dur = lambda k: mean([p["durationMs"].get(k, 0) for p in cdc])  # noqa: E731
    ops = [st for p in win for st in p["stateOperators"]]
    m = {
        "streaming.batches": len(cdc),
        "streaming.rows_per_batch": mean([p["numInputRows"] for p in cdc]),
        "streaming.add_batch_ms": dur("addBatch"),
        "streaming.planning_ms": dur("queryPlanning"),
        "streaming.wal_commit_ms": dur("walCommit"),
        "streaming.commit_offsets_ms": dur("commitOffsets"),
        "streaming.latest_offset_ms": dur("latestOffset"),
        "streaming.state_rows": ops[-1]["numRowsTotal"] if ops else 0,
        "streaming.state_mem_bytes": max((o["memoryUsedBytes"] for o in ops), default=0),
        "streaming.state_commit_ms": mean([o["commitTimeMs"] for o in ops]),
        "streaming.late_rows_dropped": sum(o["numRowsDroppedByWatermark"] for o in ops),
    }
    # tick files waiting when each open-loop batch was triggered: the
    # interval's own ticks (trigger_ms / tick_ms) when the loop keeps up
    written = [g["written"] for g in raw["generator"]]
    done, waits = 0, []
    per_batch = {}
    for b in file_batch.values():
        per_batch[b] = per_batch.get(b, 0) + 1
    for p in sorted(cdc, key=lambda p: p["batchId"]):
        start = tr._iso_ms(p["timestamp"])
        waits.append(sum(1 for w in written if w <= start) - done)
        done += per_batch.get(p["batchId"], 0)
    m["streaming.backlog_files"] = mean(waits)
    loop = raw["open_loop"]
    m["exec.gc_ms"] = loop["gc_ms"]
    m["exec.parallel_eff"] = sum(t.get("exec.task_busy_s", 0) for k, t in per_trace.items()
                                 if k.split("#")[0] in ("cdc", "windows")) \
        / ((loop["end"] - loop["start"]) / 1000 * cfg["cpus"])
    m["generator.lag_ms"] = max((g["written"] - g["due"] for g in raw["generator"]), default=0.0)
    tot = {}
    for t in per_trace.values():
        for k, v in t.items():
            tot[k] = tot.get(k, 0) + v
    up, cp = tot.get("operators.cdc_table.upsert_calls", 0), tot.get("operators.cdc_table.compact_calls", 0)
    m["operators.cdc_table.upsert_ms"] = tot.get("operators.cdc_table.upsert_ms", 0) / max(1, up)
    m["operators.cdc_table.compact_ms"] = tot.get("operators.cdc_table.compact_ms", 0) / max(1, cp)
    m["operators.cdc_table.snapshot_ms"] = raw["checks"]["snapshot_read_ms"]
    m["operators.cdc_table.delta_commits"] = up
    by_id = {s["id"]: s for s in spans}
    wb = {"upsert": 0, "compact": 0}
    for s in spans:
        if s["name"] == "action" and s["attrs"].get("writes"):
            for a in tr.ancestors(s, by_id):
                if a["name"] in ("cdc_table.upsert", "cdc_table.compact"):
                    wb[a["name"].split(".")[1]] += s["attrs"].get("write_bytes", 0)
                    break
    m["operators.cdc_table.write_amp"] = (wb["upsert"] + wb["compact"]) / max(1, wb["upsert"])
    m["operators.cdc_table.space_amp"] = raw["checks"]["table_bytes"] / max(1, raw["checks"]["snapshot_bytes"])
    for k in EXEC_LAYERS:
        m[k] = tot.get(k, 0)
    return m


def end_to_end(setup_s, wall_s, lat, peak_rss_mb):
    """The end-to-end metrics, by their BENCHMARK.json names."""
    return {"setup_s": setup_s, "wall_s": wall_s, "op_p50_ms": lat["p50"],
            "op_tail_ms": lat["tail"], "peak_rss_mb": peak_rss_mb}


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    cfg = gen.load_config()
    if a.workload not in cfg["workloads"]:
        sys.exit(f"unknown workload {a.workload}")
    wcfg = cfg["workloads"][a.workload]
    classpath = build.build(root)

    run_dir = os.path.join(root, ".bench_build", "runs",
                           f"{a.workload}_c{cfg['cpus']}_s{a.seed}_t{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    input_dir, out = os.path.join(run_dir, "input"), os.path.join(run_dir, "out")
    os.makedirs(out)
    gen_s, identical = generate(a.workload, a.seed, a.seconds, input_dir, cfg)
    request = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
               "trace": bool(a.trace), "cpus": cfg["cpus"], "input": input_dir, "out": out,
               "queries": wcfg.get("queries", []), "min_passes": wcfg.get("min_passes", 2),
               "feed": wcfg.get("feed", {})}
    raw = run_jvm(classpath, request, run_dir)

    if a.workload == "cdc_stream":
        r = stream_metrics(raw, cfg, input_dir, a.trace)
    else:
        r = batch_metrics(raw, cfg, wcfg, out, input_dir, a.trace)
    r["attempted"] += 1
    r["failed"] += 0 if identical else 1
    setup_s = gen_s + raw["session_start_s"] + raw["warmup_s"]
    e2e = end_to_end(setup_s, r["wall_s"], r["lat"], raw["peak_rss_mb"])
    detail = {"workload": a.workload, "seed": a.seed, "cpus": cfg["cpus"], "trace": a.trace,
              "setup": {"generate_s": gen_s, "session_start_s": raw["session_start_s"],
                        "warmup_s": raw["warmup_s"], "inputs_identical": identical},
              "end_to_end": e2e, "layers": r["layers"], **r["detail"]}
    with open(os.path.join(run_dir, "detail.json"), "w") as f:
        json.dump(detail, f, indent=1, default=str)
    if a.trace:
        with open(os.path.join(run_dir, "trace.json"), "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed, "cpus": cfg["cpus"],
                       "per_trace": r["per_trace"], "spans": r["spans"]}, f, default=str)
    # the inputs and the program's tables are re-made by every run
    for d in (input_dir, os.path.join(out, "warehouse"), os.path.join(out, "tmp"),
              os.path.join(out, "table"), os.path.join(out, "warm_table"), os.path.join(out, "local")):
        shutil.rmtree(d, ignore_errors=True)

    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    names = [m["name"] for m in (bench["per_layer"] if a.trace else bench["end_to_end"])]
    # a layer the workload never runs reads 0 (e.g. streaming.* on a batch workload)
    values = {n: r["layers"].get(n, 0.0) for n in names} if a.trace else e2e
    lat = r["lat"]
    log(f"{a.workload} seed={a.seed} cpus={cfg['cpus']} trace={a.trace}: "
        f"fail_ratio={r['failed']}/{r['attempted']}; op latency n={lat['n']} "
        f"p50={lat['p50']:.1f} ms, tail=p{lat['tail_pct']}={lat['tail']:.1f} ms "
        f"({lat['beyond_tail']} beyond); detail {run_dir}/detail.json")
    for n in names:
        log(f"  {n} = {values[n]:.6g} {units[n]}")
    print(json.dumps({"correct": r["failed"] == 0, "attempted": r["attempted"], "failed": r["failed"],
                      "metrics": {n: {"value": values[n], "unit": units[n]} for n in names}}))


if __name__ == "__main__":
    # a SIGTERM unwinds like an exception, so the JVM child is stopped too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    main()
