"""Metrics of one run, from the JVM half's result file.

`end_to_end` gives the figures of BENCHMARK.json's end_to_end list, as
name -> (value, unit), every workload reporting all of them, plus the
workload's own figures, which go on the detail line. `per_layer` does the
same for a traced run, from its spans and Spark records.
"""
import statistics
from collections import defaultdict


def pct(values, p):
    """The p-th percentile, linear between closest ranks."""
    v = sorted(values)
    if len(v) == 1:
        return v[0]
    k = (len(v) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def _ms(op):
    return op["end"] - op["start"]


def timed_ops(result):
    """The timed run's ops: in a traced run, the untraced half, which alone
    times the program as users see it."""
    ops = result["ops"]
    if result["trace"]:
        ops = [o for o in ops if not o["traced"]]
    return ops


def latency(prefix, ops):
    ms = [_ms(o) for o in ops]
    if not ms:
        return {}
    return {f"{prefix}p50_ms": pct(ms, 50), f"{prefix}p90_ms": pct(ms, 90),
            f"{prefix}samples": len(ms), f"{prefix}beyond_p90": sum(
                1 for x in ms if x > pct(ms, 90))}


def end_to_end(result, gen_s):
    ops = timed_ops(result)
    # a traced run's untraced ops fill two of its four quarters
    span_s = result["seconds"] / 2 if result["trace"] else \
        (max(o["end"] for o in ops) - min(o["start"] for o in ops)) / 1000.0
    ms = [_ms(o) for o in ops]
    metrics = {
        "setup_s": (gen_s + result["session_s"] + statistics.median(result["setup_reps_s"])
                    + result["warmup_s"], "s"),
        "op_p50_ms": (pct(ms, 50), "ms"),
        "op_p90_ms": (pct(ms, 90), "ms"),
        "ops_per_s": (len(ops) / span_s, "1/s"),
        "driver_heap_mb": (result["heap_mb"], "MB"),
    }
    detail = {"samples": len(ops),
              "beyond_p90": sum(1 for x in ms if x > pct(ms, 90)),
              "gen_s": gen_s, "session_s": result["session_s"],
              "setup_reps_s": result["setup_reps_s"], "warmup_s": result["warmup_s"]}
    by_name = defaultdict(list)
    for o in ops:
        by_name[o["name"]].append(_ms(o))
    detail["op_p50_ms_by_name"] = {n: pct(v, 50) for n, v in sorted(by_name.items())}
    detail["ops_by_name"] = {n: len(v) for n, v in sorted(by_name.items())}
    if result["workload"] == "dashboard":
        seen, repeats = set(), 0
        for o in sorted(ops, key=lambda o: o["start"]):
            key = (o["method"], o["path"])
            if key in seen and o["method"] == "GET":
                repeats += 1
            seen.add(key)
        detail["dashboard.repeat_share"] = repeats / len(ops)
    if result["workload"] == "lake":
        detail.update(latency("write_", [o for o in ops if o["kind"] == "write"]))
        detail.update(latency("read_", [o for o in ops if o["kind"] == "read"]))
        lake = result["lake"]
        detail["bytes_written_per_user_byte"] = lake["bytes_written"] / max(1, lake["user_bytes"])
        detail["bytes_stored_per_live_byte"] = lake["bytes_stored"] / max(1, lake["live_bytes"])
        detail["versions"] = lake["versions"]
    return metrics, detail


def _union(intervals):
    """Total length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _serving_windows(requests):
    """When the single dispatcher thread served each request. It serves one
    request at a time, so requests are answered in the order it served
    them, and a request starts being served when it arrives or when the
    previous one is answered, whichever is later; the difference is its
    wait in the queue."""
    busy_until = 0.0
    out = {}
    for o in sorted(requests, key=lambda o: o["end"]):
        begin = max(o["start"], busy_until)
        out[o["id"]] = (begin, o["end"], begin - o["start"])
        busy_until = o["end"]
    return out


def _attribute(ops, jobs, windows=None):
    """op id -> its jobs: by the op-id local property where the calling
    thread set one, else by the serving window the job started in."""
    by_op = defaultdict(list)
    untagged = []
    for j in jobs:
        if j["op"]:
            by_op[j["op"]].append(j)
        else:
            untagged.append(j)
    if windows:
        starts = sorted((w[0], w[1], oid) for oid, w in windows.items())
        for j in untagged:
            for s, e, oid in starts:
                if s - 1 <= j["start"] <= e + 1:
                    by_op[oid].append(j)
                    break
    return by_op


def _op_counters(lo, hi, jobs, stages):
    """Counters of the jobs an op ran between lo and hi."""
    ids = {sid for j in jobs for sid in j["stages"]}
    ss = [stages[s] for s in ids if s in stages and stages[s]["submit"] > 0]
    active = _union([(max(lo, s["submit"]), min(hi, s["complete"] or hi))
                     for s in ss if (s["complete"] or hi) > lo and s["submit"] < hi])
    return {
        "jobs": len(jobs), "stages": len(ss),
        "tasks": sum(s["tasks"] for s in ss),
        "stage_ms": active, "driver_only_ms": (hi - lo) - active,
        "task_cpu_ms": sum(s["cpu_ms"] for s in ss),
        "gc_ms": sum(s["gc_ms"] for s in ss),
        "shuffle_bytes": sum(s["shuffle_bytes"] for s in ss),
        "spill_bytes": sum(s["spill_bytes"] for s in ss),
        "peak_mem": max([s["peak_mem"] for s in ss] or [0]),
        "input_bytes": sum(s["input_bytes"] for s in ss),
        "input_records": sum(s["input_records"] for s in ss),
    }


PLAN_COUNTS = ("codegen_fallback_nodes", "engine_function_nodes", "hof_nodes")
LAYER_OF_COUNT = {"codegen_fallback_nodes": "plans",
                  "engine_function_nodes": "functions", "hof_nodes": "functions"}


def _plan_counts(jobs, plans):
    """Plan counts summed over the distinct SQL executions an op's jobs
    ran in."""
    execs = {j["execution"] for j in jobs if j["execution"] in plans}
    return {k: sum(plans[e][k] for e in execs) for k in PLAN_COUNTS}


def _mean(rows, key):
    return statistics.fmean([r[key] for r in rows]) if rows else 0.0


LAYER_OF_FACE = {"index_append": "operators", "index_delete": "operators",
                 "search": "operators"}


def per_layer(result):
    tr = result["trace"]
    stages = {s["id"]: s for s in tr["stages"]}
    traced = [o for o in result["ops"] if o["traced"]]
    untraced = [o for o in result["ops"] if not o["traced"]]
    extra = result.get("frame_ops", [])
    # the dispatcher serves untraced requests too
    windows = _serving_windows(result["ops"]) if result["workload"] == "dashboard" else None
    jobs_of = _attribute(traced + extra, tr["jobs"], windows)
    def bounds(o):
        return windows[o["id"]][:2] if windows and o["id"] in windows \
            else (o["start"], o["end"])
    counters = {o["id"]: _op_counters(*bounds(o), jobs_of.get(o["id"], []), stages)
                for o in traced + extra}
    for o in traced:
        counters[o["id"]].update(_plan_counts(jobs_of.get(o["id"], []), tr["plans"]))
    rows = [counters[o["id"]] for o in traced]

    # trace cost: the traced quarters against the untraced ones, per op name
    ratios = []
    for name in {o["name"] for o in traced}:
        a = [_ms(o) for o in untraced if o["name"] == name]
        b = [_ms(o) for o in traced if o["name"] == name]
        if len(a) >= 2 and len(b) >= 2:
            ratios.append(statistics.median(b) / statistics.median(a))
    overhead = statistics.median(ratios) - 1.0 if ratios else 0.0

    canary = result["weather"]["canary_ms"]
    metrics = {
        "spark.jobs_per_op": (_mean(rows, "jobs"), "count"),
        "spark.stages_per_op": (_mean(rows, "stages"), "count"),
        "spark.tasks_per_op": (_mean(rows, "tasks"), "count"),
        "spark.stage_ms_per_op": (_mean(rows, "stage_ms"), "ms"),
        "spark.driver_only_ms_per_op": (_mean(rows, "driver_only_ms"), "ms"),
        "spark.task_cpu_ms_per_op": (_mean(rows, "task_cpu_ms"), "ms"),
        "spark.gc_ms_per_op": (_mean(rows, "gc_ms"), "ms"),
        "spark.shuffle_bytes_per_op": (_mean(rows, "shuffle_bytes"), "bytes"),
        "spark.spill_bytes_per_op": (_mean(rows, "spill_bytes"), "bytes"),
        "spark.peak_exec_mem_mb": (
            max([r["peak_mem"] for r in rows] or [0]) / 1048576.0, "MB"),
        "spark.input_bytes_per_op": (_mean(rows, "input_bytes"), "bytes"),
        "spark.input_records_per_op": (_mean(rows, "input_records"), "count"),
        "trace_overhead_share": (overhead, "ratio"),
        "canary_ms": (statistics.fmean(canary), "ms"),
    }

    # self time per layer: an op's time minus what its Spark stages cover,
    # under the layer of the op's one top-level call (spans do not nest:
    # the engine is not instrumented)
    self_ms = defaultdict(list)
    for sp in tr["spans"]:
        c = counters.get(sp["op"])
        if c is not None:
            self_ms[sp["layer"]].append(c["driver_only_ms"])
    detail = {f"{layer}.self_ms_per_op": statistics.fmean(v)
              for layer, v in sorted(self_ms.items())}

    def group(ops, key):
        g = defaultdict(list)
        for o in ops:
            g[key(o)].append(o)
        return sorted(g.items())

    w = result["workload"]
    if w == "dashboard":
        for route, os_ in group(traced, lambda o: o["name"]):
            rs = [counters[o["id"]] for o in os_]
            serve = [windows[o["id"]][1] - windows[o["id"]][0] for o in os_]
            detail[f"engine.server.route_ms.{route}"] = statistics.median(serve)
            for k in ("jobs", "stages", "tasks", "driver_only_ms"):
                detail[f"spark.{k}_per_op.{route}"] = _mean(rs, k)
            for k in PLAN_COUNTS:
                detail[f"{LAYER_OF_COUNT[k]}.{k}_per_op.{route}"] = _mean(rs, k)
        detail["engine.server.queue_ms"] = statistics.fmean(
            [windows[o["id"]][2] for o in traced])
        for name, os_ in group(extra, lambda o: o["name"]):
            detail[f"engine.analytics.frame_ms.{name}"] = statistics.median(
                [_ms(o) for o in os_])
            detail[f"spark.jobs_per_op.frame.{name}"] = _mean(
                [counters[o["id"]] for o in os_], "jobs")
            for k in PLAN_COUNTS:
                detail[f"{LAYER_OF_COUNT[k]}.{k}.{name}"] = os_[0][k]
        # the analytics route's self time: its serving time minus the time
        # of the six frames it renders, each called directly on the same
        # key and window
        route_frames = ("geo_lookup", "request_totals", "requests_by_type",
                        "complaint_chart", "sales_listing", "sales_stats")
        render = []
        for req, fs in group(extra, lambda o: o["request"]):
            if req in windows:
                serve = windows[req][1] - windows[req][0]
                render.append(serve - sum(_ms(f) for f in fs if f["name"] in route_frames))
        if render:
            detail["engine.render_ms"] = statistics.median(render)
        out_rows = [_rows_out(o) for o in traced]
        read_rows = sum(r["input_records"] for r in rows)
        detail["spark.rows_read_per_row_out"] = read_rows / max(1, sum(out_rows))
    elif w == "lake":
        for face, os_ in group(traced, lambda o: o["name"]):
            rs = [counters[o["id"]] for o in os_]
            for k in PLAN_COUNTS:
                detail[f"{LAYER_OF_COUNT[k]}.{k}_per_op.{face}"] = _mean(rs, k)
            layer = LAYER_OF_FACE.get(face, "sources")
            if layer == "sources":
                detail[f"sources.face_ms.{face}"] = statistics.median([_ms(o) for o in os_])
                detail[f"sources.jobs_per_face.{face}"] = _mean(rs, "jobs")
            else:
                op = {"index_append": "append", "index_delete": "delete"}.get(face, face)
                detail[f"operators.similarity.index_ms.{op}"] = statistics.median(
                    [_ms(o) for o in os_])
                detail[f"operators.similarity.jobs_per_op.{op}"] = _mean(rs, "jobs")
        commits = [o for o in traced if o["name"] in ("append", "upsert", "delete")]
        if commits:
            detail["sources.files_written_per_commit"] = statistics.fmean(
                [o["files_added"] for o in commits])
        appends = [o for o in traced if o["name"] == "index_append"]
        if appends:
            detail["operators.similarity.files_per_index_append"] = statistics.fmean(
                [o["files_added"] for o in appends])
        lineage = set(tr["lineage_executions"])
        src = [o for o in traced if LAYER_OF_FACE.get(o["name"], "sources") == "sources"]
        detail["sources.lineage_reads_per_op"] = statistics.fmean(
            [len({j["execution"] for j in jobs_of.get(o["id"], [])} & lineage)
             for o in src])
    detail["traced_ops"] = len(traced)
    return metrics, detail


def _rows_out(op):
    """Rows a dashboard response carries: objects in its JSON arrays, or
    CSV lines after the header."""
    body = op.get("body", "")
    if body.startswith("[") or body.startswith("{"):
        return max(1, body.count("{") - (1 if body.startswith("{") else 0))
    return max(1, body.count("\n") - 1)
