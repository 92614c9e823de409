"""Turns the harness's raw records into spans, per-trace layer metrics and
the statistics the benchmark reports. Pure functions over plain dicts, so
`tests/test_harness.py` can check them without a JVM.

A span is {id, name, trace, parent, start, end} in epoch ms. Each query
execution (`<query>#<pass>`) and each micro-batch (`<stream>#<batchId>`)
is one trace: every span under it shares its trace id.
"""
import json
import math
import os
import re
import statistics
from collections import defaultdict
from datetime import datetime, timezone

LADDER = (50, 90, 99)
MIN_BEYOND = 10
OPERATOR_FILES = ("StandingIndex", "ConnectedComponents", "BucketedLake", "CdcTable")


def percentile(values, p):
    """Nearest-rank percentile of `values` (p in 0..100)."""
    s = sorted(values)
    if not s:
        raise ValueError("no samples")
    return s[max(0, math.ceil(p / 100 * len(s)) - 1)]


def beyond(n, p):
    """Samples strictly past the nearest-rank p-th percentile of n."""
    return n - math.ceil(p / 100 * n)


def tail_percentile(n):
    """The highest ladder percentile with at least MIN_BEYOND samples
    beyond it; the median when even that has fewer (flagged by the
    caller through the sample count it prints)."""
    ok = [p for p in LADDER if beyond(n, p) >= MIN_BEYOND]
    return ok[-1] if ok else 50


def summarize(values):
    """Median and tail of one timing, with the counts that qualify them.
    The median interpolates between the middle two of an even count: with
    few samples from different queries, either one alone jumps."""
    n = len(values)
    p = tail_percentile(n)
    med = statistics.median(values)
    return {"n": n, "p50": med, "tail_pct": p,
            "tail": med if p == 50 else percentile(values, p), "beyond_tail": beyond(n, p)}


def self_times(spans):
    """Each span's duration minus the union of its children's intervals
    (clipped to the span): the time spent in the span itself."""
    kids = defaultdict(list)
    for s in spans:
        if s.get("parent"):
            kids[s["parent"]].append(s)
    out = {}
    for s in spans:
        iv = sorted((max(c["start"], s["start"]), min(c["end"], s["end"]))
                    for c in kids[s["id"]])
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in iv:
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def callsite_file(callsite):
    """'saveAsTable at StandingIndex.scala:412' -> 'StandingIndex'."""
    m = re.search(r" at ([A-Za-z0-9_$]+)\.scala:\d+", callsite or "")
    return m.group(1) if m else ""


def build_spans(records, progress_json=()):
    """Spans from raw records. Harness spans keep their recorded parents;
    actions parent on the span their jobs ran under (else the innermost
    harness span open at their start); jobs on their action, else their
    harness span, else their micro-batch; stages on their job; catalog
    operations on their harness span. Every span gets its trace id and its
    self time (`self_ms`)."""
    spans, by_id = [], {}

    def add(s):
        spans.append(s)
        by_id[s["id"]] = s
        return s

    harness = [r for r in records if r["kind"] == "span"]
    for r in harness:
        add({"id": f"h{r['id']}", "name": r["name"], "trace": r["trace"],
             "parent": f"h{r['parent']}" if r["parent"] else None,
             "start": r["start"], "end": r["end"],
             "attrs": {k: v for k, v in r.items() if k not in
                       ("kind", "id", "name", "trace", "parent", "start", "end")}})

    # micro-batches from streaming progress (trigger start + duration)
    for pj in progress_json:
        p = json.loads(pj) if isinstance(pj, str) else pj
        start = _iso_ms(p["timestamp"])
        name = p.get("name") or p["id"][:8]
        add({"id": f"b{name}#{p['batchId']}", "name": "micro-batch",
             "trace": f"{name}#{p['batchId']}", "parent": None, "start": start,
             "end": start + p["durationMs"].get("triggerExecution", 0),
             "attrs": {"rows": p.get("numInputRows", 0)}})
    for s in spans:
        if s["parent"] is None and "batch" in s["attrs"]:
            b = f"b{s['attrs'].get('query')}#{s['attrs']['batch']}"
            if b in by_id:
                s["parent"] = b

    def innermost(t):
        best = None
        for h in harness:
            if h["start"] <= t <= h["end"] and (best is None or h["start"] >= best["start"]):
                best = h
        return f"h{best['id']}" if best else None

    jobs = {r["job"]: dict(r) for r in records if r["kind"] == "job_start"}
    for r in records:
        if r["kind"] == "job_end" and r["job"] in jobs:
            jobs[r["job"]]["end"] = r["time"]
    execs = {r["exec"]: dict(r) for r in records if r["kind"] == "exec_start"}
    actions = {r["exec"]: r for r in records if r["kind"] == "exec_end"}
    for x, r in actions.items():
        if x in execs:
            execs[x]["end"] = r["time"]
    job_span_of_exec = {}
    for j in sorted(jobs.values(), key=lambda j: j["job"]):
        if j.get("exec") is not None and j.get("span"):
            job_span_of_exec.setdefault(int(j["exec"]), f"h{j['span']}")

    for e in sorted(execs.values(), key=lambda e: e["exec"]):
        # a micro-batch's own execution is described "<query>\nid = ..\nrunId = ..\nbatch = <n>"
        mb = re.match(r"(\S+)\nid = .*\nbatch = (\d+)", e.get("description", ""), re.S)
        if e["exec"] in job_span_of_exec:
            parent = job_span_of_exec[e["exec"]]
        elif e["root"] != e["exec"] and f"x{e['root']}" in by_id:
            parent = f"x{e['root']}"
        elif mb and f"b{mb.group(1)}#{mb.group(2)}" in by_id:
            parent = f"b{mb.group(1)}#{mb.group(2)}"
        else:
            parent = innermost(e["time"])
        add({"id": f"x{e['exec']}", "name": "action", "trace": None, "parent": parent,
             "start": e["time"], "end": e.get("end", e["time"]),
             "attrs": dict({k: v for k, v in actions.get(e["exec"], {}).items()
                            if k not in ("kind", "exec", "time")},
                           description=e.get("description", ""))})
    stage_job = {}
    for j in jobs.values():
        if j.get("exec") is not None and f"x{j['exec']}" in by_id:
            parent = f"x{j['exec']}"
        elif j.get("span"):
            parent = f"h{j['span']}"
        else:
            parent = next((f"b{n}#{j['batch']}" for n in ("cdc", "windows")
                           if j.get("batch") is not None and f"b{n}#{j['batch']}" in by_id), None)
        # adaptive stages submit from a thread pool and lose the user call
        # site; their execution's description is that call site
        x = int(j["exec"]) if j.get("exec") is not None else None  # a job property: a string
        cs = execs[x].get("description") if x in execs else j.get("callsite")
        add({"id": f"j{j['job']}", "name": "job", "trace": None, "parent": parent,
             "start": j["time"], "end": j.get("end", j["time"]),
             "attrs": {"callsite": cs or ""}})
        for st in j["stages"]:
            stage_job[st] = f"j{j['job']}"
    first_launch, failed_tasks = {}, defaultdict(int)
    for r in records:
        if r["kind"] == "task":
            first_launch[r["stage"]] = min(first_launch.get(r["stage"], r["launch"]), r["launch"])
            failed_tasks[r["stage"]] += 0 if r["ok"] else 1
    for r in records:
        if r["kind"] == "stage":
            add({"id": f"s{r['stage']}.{r['attempt']}", "name": "stage", "trace": None,
                 "parent": stage_job.get(r["stage"]), "start": r["submit"], "end": r["end"],
                 "attrs": dict(r, sched_wait=max(0, first_launch.get(r["stage"], r["submit"]) - r["submit"]),
                               failed_tasks=failed_tasks[r["stage"]])})
    for i, r in enumerate(x for x in records if x["kind"] == "ddl"):
        add({"id": f"d{i}", "name": f"catalog.{r['op']}", "trace": None,
             "parent": f"h{r['span']}" if r.get("span") else innermost(r["start"]),
             "start": r["start"], "end": r["end"], "attrs": {}})

    # traces flow down the tree
    def trace_of(s, seen=0):
        if s["trace"] is None and s["parent"] in by_id and seen < 64:
            s["trace"] = trace_of(by_id[s["parent"]], seen + 1)
        return s["trace"]
    for s in spans:
        trace_of(s)
    selfs = self_times(spans)
    for s in spans:
        s["self_ms"] = selfs[s["id"]]
    return spans


def _iso_ms(ts):
    """'2026-10-17T05:12:01.123Z' -> epoch ms."""
    return datetime.strptime(ts.rstrip("Z"), "%Y-%m-%dT%H:%M:%S.%f") \
        .replace(tzinfo=timezone.utc).timestamp() * 1000


def ancestors(span, by_id):
    while span is not None:
        yield span
        span = by_id.get(span["parent"])


def trace_layers(spans):
    """Per-trace sums of every layer the trace's spans expose."""
    by_id = {s["id"]: s for s in spans}
    out = defaultdict(lambda: defaultdict(float))
    for s in spans:
        if s["trace"] is None:
            continue
        a, m = s["attrs"], out[s["trace"]]
        dur = s["end"] - s["start"]
        if s["name"] == "build":
            m["queries.build_ms"] += dur
        elif s["name"] == "action":
            m["queries.actions"] += 1
            for k in ("analysis_ms", "optimization_ms", "planning_ms"):
                m[f"queries.{k}"] += a.get(k, 0)
            if a.get("writes"):
                m["sinks.write_ms"] += dur
                m["sinks.bytes_written"] += a.get("write_bytes", 0)
                m["sinks.files_written"] += a.get("write_files", 0)
            if a.get("description", "").startswith(("localCheckpoint ", "checkpoint ")):
                m["exec.local_checkpoints"] += 1
            if any(x["name"] == "materialize" for x in ancestors(by_id.get(s["parent"]), by_id)):
                m["materialize_operator_rows"] += a.get("operator_rows", 0)
        elif s["name"] == "job":
            m["exec.jobs"] += 1
            f = callsite_file(a["callsite"])
            # a streaming query's jobs all carry the query's start call site;
            # there the benchmark's own timer around the CdcTable call names them
            if f not in OPERATOR_FILES and any(
                    x["name"].startswith("cdc_table.") for x in ancestors(s, by_id)):
                f = "CdcTable"
            if f in OPERATOR_FILES:
                m[f"operators.{f}.jobs"] += 1
                m[f"operators.{f}.job_s"] += dur / 1000
        elif s["name"] == "stage":
            m["exec.stages"] += 1
            m["exec.tasks"] += a["tasks"]
            m["exec.sched_wait_ms"] += a["sched_wait"]
            m["exec.task_busy_s"] += a["run_ms"] / 1000
            m["exec.shuffle_write_bytes"] += a["shuffle_write"]
            m["exec.shuffle_read_bytes"] += a["shuffle_read"]
            m["exec.spill_bytes"] += a["spill"]
            m["exec.scan_bytes"] += a["scan_bytes"]
            m["exec.scan_rows"] += a["scan_rows"]
            m["exec.task_gc_ms"] += a["gc_ms"]
            m["exec.failed_tasks"] += a["failed_tasks"]
        elif s["name"].startswith("catalog."):
            m["catalog.ddl_ops"] += 1
            m["catalog.ddl_ms"] += dur
        elif s["name"].startswith("cdc_table."):
            m[f"operators.{s['name']}_ms"] += dur
            m[f"operators.{s['name']}_calls"] += 1
        elif s["name"] in ("query", "foreachBatch"):
            m["wall_ms"] += dur
    return {t: dict(m) for t, m in out.items()}


def load_source_log(path):
    """file name -> batch id, from a file-stream source's metadata log."""
    out = {}
    if not os.path.isdir(path):
        return out
    for f in os.listdir(path):
        if f.startswith("."):
            continue
        with open(os.path.join(path, f)) as fh:
            for line in fh:
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = e["batchId"]
    return out


def event_latencies(generator, commits, file_batch, tick_events):
    """Per-event latency (ms) from its tick's due time to the commit of
    the micro-batch that carried it, and the number of events whose tick
    never reached a committed batch."""
    commit = {c["batch"]: c["commit"] for c in commits if c["query"] == "cdc"}
    lat, lost = [], 0
    for g in generator:
        b = file_batch.get(g["file"])
        n = tick_events[g["tick"]]
        if b is None or b not in commit:
            lost += n
        else:
            lat.extend([commit[b] - g["due"]] * n)
    return lat, lost
