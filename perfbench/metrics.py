"""Turns one run document (written by graft.perfbench.Main) into metrics.

End-to-end metrics come from op timings alone and are what a run with
tracing off reports. Per-layer metrics need the spans and listener
events that only a traced run records. Every metric is returned as
{"value": float, "unit": str}.
"""
import bisect
import statistics

PRIMARY = {"dashboard-read": "read", "ingest-ticks": "tick"}

END_TO_END = {
    "op_p50_ms": "ms",
    "throughput_per_s": "1/s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "catalyst.analysis_ms": "ms/op",
    "catalyst.optimize_ms": "ms/op",
    "catalyst.planning_ms": "ms/op",
    "exec.jobs": "count",
    "exec.jobs_per_op": "count/op",
    "exec.tasks": "count/op",
    "exec.sched_wait_s": "s/op",
    "exec.task_run_s": "s/op",
    "exec.task_cpu_s": "s/op",
    "exec.core_util": "ratio",
    "exec.shuffle_write_mb": "MB/op",
    "exec.shuffle_read_mb": "MB/op",
    "exec.spill_mb": "MB/op",
    "tables.input_mb": "MB/op",
    "tables.input_rows": "rows/op",
    "matchtransform.rows_scanned_per_row_returned": "ratio",
    "queries.define_s": "s/op",
    "queries.define_share": "ratio",
    "staged.builds": "count/setup",
    "staged.build_s": "s/setup",
    "staged.disk_mb": "MB/setup",
    "incremental.batches": "count/op",
    "incremental.add_batch_ms": "ms",
    "incremental.trigger_overhead_ms": "ms",
    "incremental.start_stop_ms": "ms/op",
    "incremental.dedup_state_rows": "rows",
    "incremental.dup_rows_dropped": "rows/pass",
    "mergeinto.gold_versions": "count",
    "mergeinto.gold_files": "count",
    "mergeinto.bytes_written_per_input_byte": "ratio",
    "jvm.gc_s": "s",
    "jvm.peak_heap_mb": "MB",
    "trace.op_p50_ms": "ms",
    "trace.reconcile_err": "ratio",
    "trace.spans_per_op": "count/op",
}

MB = 1048576.0


def percentile(values, q):
    """Linear-interpolated percentile, q in [0, 100]."""
    xs = sorted(values)
    if len(xs) == 1:
        return float(xs[0])
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def _dur(o):
    return o["end"] - o["start"]


def timed_ops(doc, kind=None):
    return [o for o in doc["ops"]
            if o["phase"] == "timed" and (kind is None or o["kind"] == kind)]


def end_to_end(doc):
    kind = PRIMARY[doc["workload"]]
    prim = timed_ops(doc, kind)
    lat = [_dur(o) for o in prim]
    setups = [_dur(o) / 1e3 for o in doc["ops"] if o["phase"] == "setup"]
    if doc["workload"] == "dashboard-read":
        every = timed_ops(doc)
        wall_s = (max(o["end"] for o in every) - min(o["start"] for o in every)) / 1e3
        throughput = len(prim) / wall_s
    else:
        # distinct matches made durable in gold per second of tick time
        rows = sum(p["input_rows"] for p in doc["results"]["layout"])
        throughput = rows / (sum(lat) / 1e3)
    vals = {
        "op_p50_ms": percentile(lat, 50),
        "throughput_per_s": throughput,
        "setup_s": statistics.median(setups),
        "peak_rss_mb": doc["jvm"]["peak_rss_mb"],
    }
    return {k: {"value": vals[k], "unit": u} for k, u in END_TO_END.items()}


# ---- spans ---------------------------------------------------------

def span_tree(doc):
    """Client spans plus one span per Catalyst phase, each phase hung
    under the deepest client span that contains its whole interval.
    Returns {op_id: [span dicts with 'children' lists]}."""
    spans = [dict(s, children=[]) for s in doc["spans"]]
    by_id = {s["id"]: s for s in spans}
    trees = {}
    for s in spans:
        if s["parent"] < 0:
            trees[s["op"]] = s
        else:
            by_id[s["parent"]]["children"].append(s)
    roots = sorted(trees.values(), key=lambda s: s["start"])
    starts = [r["start"] for r in roots]

    def deepest(node, a, b):
        for c in node["children"]:
            if c["start"] <= a and b <= c["end"] and not c["name"].startswith("catalyst."):
                return deepest(c, a, b)
        return node

    for phases in doc["plans"]:
        for name, a, b in phases:
            i = bisect.bisect_right(starts, a) - 1
            if i < 0 or b > roots[i]["end"]:
                continue  # outside any op (set-up helpers, control job)
            host = deepest(roots[i], a, b)
            host["children"].append({"name": "catalyst." + name, "start": a, "end": b,
                                     "children": [], "op": roots[i]["op"]})
    return trees


def self_times(node, out):
    """Appends (name, self ms) for `node` and its descendants. Self time
    is the span's duration minus the union of its children's intervals
    inside it."""
    iv = sorted((max(c["start"], node["start"]), min(c["end"], node["end"]))
                for c in node["children"])
    covered, cur_a, cur_b = 0.0, None, None
    for a, b in iv:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                covered += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        covered += cur_b - cur_a
    out.append((node["name"], node["end"] - node["start"] - covered))
    for c in node["children"]:
        self_times(c, out)
    return out


def reconcile_error(root):
    """|sum of self times - op wall| / op wall for one op's span tree."""
    wall = root["end"] - root["start"]
    total = sum(t for _, t in self_times(root, []))
    return abs(total - wall) / wall if wall > 0 else 0.0


# ---- per-layer -----------------------------------------------------

def per_layer(doc):
    kind = PRIMARY[doc["workload"]]
    every = timed_ops(doc)
    prim = timed_ops(doc, kind)
    n = float(len(prim))
    w0 = min(o["start"] for o in every)
    w1 = max(o["end"] for o in every)
    wall_s = (w1 - w0) / 1e3
    res = doc["results"]
    v = {}

    tasks = [t for t in doc["tasks"] if w0 <= t[1] <= w1]
    col = lambda i: sum(t[i] for t in tasks)
    jobs = [j for j in doc["jobs"] if w0 <= j[0] <= w1]
    first_launch = {}
    for t in doc["tasks"]:
        first_launch[int(t[0])] = min(first_launch.get(int(t[0]), t[1]), t[1])
    wait = 0.0
    for submit, stages in jobs:
        launches = [first_launch[s] for s in stages if s in first_launch]
        if launches:
            wait += max(0.0, min(launches) - submit)
    v["exec.jobs"] = len(jobs)
    v["exec.jobs_per_op"] = len(jobs) / n
    v["exec.tasks"] = len(tasks) / n
    v["exec.sched_wait_s"] = wait / 1e3 / n
    v["exec.task_run_s"] = col(2) / 1e3 / n
    v["exec.task_cpu_s"] = col(3) / 1e9 / n
    v["exec.core_util"] = col(2) / 1e3 / (wall_s * doc["cpus"])
    v["exec.shuffle_write_mb"] = col(4) / MB / n
    v["exec.shuffle_read_mb"] = col(5) / MB / n
    v["exec.spill_mb"] = col(6) / MB / n
    v["tables.input_mb"] = col(7) / MB / n
    v["tables.input_rows"] = col(8) / n

    if doc["workload"] == "dashboard-read":
        returned = sum(len(r["recent"]) + len(r["stats"]) for r in res["reads"])
    else:
        returned = sum(len(g["rows"]) for g in res["gold_reads"])
    v["matchtransform.rows_scanned_per_row_returned"] = col(8) / max(returned, 1)

    trees = span_tree(doc)
    timed_ids = {o["id"] for o in every}
    phase_ms = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    define_ms = 0.0
    spans = 0
    errs = []
    for op, root in trees.items():
        if op not in timed_ids:
            continue
        st = self_times(root, [])
        spans += len(st)
        errs.append(reconcile_error(root))
        stack = [root]
        while stack:
            s = stack.pop()
            stack.extend(s["children"])
            if s["name"].startswith("catalyst."):
                phase_ms[s["name"][9:]] += s["end"] - s["start"]
            elif s["name"].startswith("define."):
                define_ms += s["end"] - s["start"]
    v["catalyst.analysis_ms"] = phase_ms["analysis"] / n
    v["catalyst.optimize_ms"] = phase_ms["optimization"] / n
    v["catalyst.planning_ms"] = phase_ms["planning"] / n
    v["queries.define_s"] = define_ms / 1e3 / n
    v["queries.define_share"] = define_ms / sum(_dur(o) for o in every)
    v["trace.reconcile_err"] = max(errs) if errs else 0.0
    v["trace.spans_per_op"] = spans / n
    v["trace.op_p50_ms"] = percentile([_dur(o) for o in prim], 50)

    setups = sum(1 for o in doc["ops"] if o["phase"] == "setup")
    v["staged.builds"] = doc["staged"]["builds"] / setups
    v["staged.build_s"] = doc["staged"]["build_s"] / setups
    v["staged.disk_mb"] = doc["staged"]["disk_bytes"] / MB / setups

    v.update(_incremental(doc, prim))
    v["jvm.gc_s"] = doc["jvm"]["gc_s"]
    v["jvm.peak_heap_mb"] = doc["jvm"]["peak_heap_mb"]
    return {k: {"value": float(v[k]), "unit": u} for k, u in PER_LAYER.items()}


def _incremental(doc, prim):
    keys = ["incremental.batches", "incremental.add_batch_ms",
            "incremental.trigger_overhead_ms", "incremental.start_stop_ms",
            "incremental.dedup_state_rows", "incremental.dup_rows_dropped",
            "mergeinto.gold_versions", "mergeinto.gold_files",
            "mergeinto.bytes_written_per_input_byte"]
    v = dict.fromkeys(keys, 0.0)
    if doc["workload"] != "ingest-ticks":
        return v
    res = doc["results"]
    op_of_run = {r["run_id"]: r["op"] for r in res["run_ids"] if r["phase"] == "timed"}
    batches = [p for p in doc["progress"] if p["run_id"] in op_of_run]
    n = float(len(prim))
    v["incremental.batches"] = len(batches) / n
    adds = [p["durations_ms"].get("addBatch", 0) for p in batches]
    trig = [p["durations_ms"].get("triggerExecution", 0) for p in batches]
    if batches:
        v["incremental.add_batch_ms"] = statistics.mean(adds)
        v["incremental.trigger_overhead_ms"] = statistics.mean(t - a for t, a in zip(trig, adds))
        v["incremental.dedup_state_rows"] = max(p["state_rows_total"] for p in batches)
    trig_of_op = {}
    for p in batches:
        op = op_of_run[p["run_id"]]
        trig_of_op[op] = trig_of_op.get(op, 0) + p["durations_ms"].get("triggerExecution", 0)
    poll_ms = {}
    for s in doc["spans"]:
        if s["op"] in trig_of_op and s["name"] in ("define.runOnce", "execute.await"):
            poll_ms[s["op"]] = poll_ms.get(s["op"], 0.0) + s["end"] - s["start"]
    if poll_ms:
        v["incremental.start_stop_ms"] = statistics.mean(
            poll_ms[o] - trig_of_op[o] for o in poll_ms)
    dropped = 0
    for p in batches:
        custom = p["state_custom"]
        dropped += custom.get("numDroppedDuplicateRows",
                              p["input_rows"] - p["state_rows_updated"])
    layout = res["layout"]
    v["incremental.dup_rows_dropped"] = dropped / len(layout)
    v["mergeinto.gold_versions"] = statistics.mean(p["gold_versions"] for p in layout)
    v["mergeinto.gold_files"] = statistics.mean(p["gold_files"] for p in layout)
    v["mergeinto.bytes_written_per_input_byte"] = (
        sum(p["gold_bytes"] + p["silver_bytes"] for p in layout)
        / max(1, sum(p["landed_bytes"] for p in layout)))
    return v
