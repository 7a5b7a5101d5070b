"""Statistics of one benchmark run: end-to-end metrics from the recorded
units and steps, per-layer metrics from the trace.

Times in the raw record are nanoseconds on one clock. Every function here is
pure, so the tests exercise it without a JVM.
"""
import statistics

NS = 1e9
MB = 1048576.0

# (name, unit, better) of every metric; BENCHMARK.json lists the same.
END_TO_END = [
    ("wall_s", "s", "lower"),
    ("cpu_s", "s", "lower"),
    ("setup_s", "s", "lower"),
]

# Layers in self-time priority: an instant of a traced window belongs to the
# first layer with a span covering it; Spark jobs (exec) come first, the
# operation's own span (`op`: driver time in no named layer) last.
SELF_LAYERS = ["exec", "catalyst", "sources", "catalog", "action", "queries", "node", "etlgroup",
               "op"]
NODE_FAMILIES = ["extraction", "er", "idconvert", "grouping", "validate", "result",
                 "crawl", "tabularize"]

PER_LAYER = [
    ("queries.build_s", "s", "lower"),
    ("queries.self_s", "s", "lower"),
    ("catalyst.analysis_s", "s", "lower"),
    ("catalyst.optimization_s", "s", "lower"),
    ("catalyst.planning_s", "s", "lower"),
    ("catalyst.actions", "count", "lower"),
    ("catalyst.child_session_actions", "count", "lower"),
    ("catalyst.self_s", "s", "lower"),
    ("action.self_s", "s", "lower"),
    ("sched.jobs", "count", "lower"),
    ("sched.stages", "count", "lower"),
    ("sched.tasks", "count", "lower"),
    ("sched.driver_gap_s", "s", "lower"),
    ("exec.busy_s", "s", "lower"),
    ("exec.task_s", "s", "lower"),
    ("exec.cpu_s", "s", "lower"),
    ("exec.gc_s", "s", "lower"),
    ("exec.core_util", "ratio", "higher"),
    ("exec.shuffle_write_mb", "MB", "lower"),
    ("exec.shuffle_read_mb", "MB", "lower"),
    ("exec.spill_mb", "MB", "lower"),
    ("exec.input_mb", "MB", "lower"),
    ("exec.output_mb", "MB", "lower"),
    ("exec.straggler_ratio", "ratio", "lower"),
    ("etlgroup.nodes", "count", "lower"),
    ("etlgroup.node_busy_s", "s", "lower"),
    ("etlgroup.dispatch_gap_s", "s", "lower"),
    ("etlgroup.mean_active_nodes", "count", "higher"),
    ("etlgroup.critical_path_s", "s", "lower"),
    ("etlgroup.self_s", "s", "lower"),
] + [(f"node.{f}_s", "s", "lower") for f in NODE_FAMILIES] + [
    ("node.self_s", "s", "lower"),
    ("catalog.write_calls", "count", "lower"),
    ("catalog.write_s", "s", "lower"),
    ("catalog.write_mb", "MB", "lower"),
    ("catalog.read_s", "s", "lower"),
    ("catalog.snapshot_calls", "count", "lower"),
    ("catalog.snapshot_s", "s", "lower"),
    ("catalog.snapshot_mb", "MB", "lower"),
    ("catalog.load_cache_s", "s", "lower"),
    ("catalog.snapshot_mb_per_changed_mb", "ratio", "lower"),
    ("catalog.stored_bytes_per_input_byte", "ratio", "lower"),
    ("catalog.self_s", "s", "lower"),
    ("sources.fetch_calls", "count", "lower"),
    ("sources.fetch_s", "s", "lower"),
    ("sources.changed_frac", "ratio", "higher"),
    ("sources.self_s", "s", "lower"),
    ("expr.affine_gap_ns", "ns", "lower"),
    ("expr.long_dot_ns", "ns", "lower"),
    ("expr.sorted_intersect_ns", "ns", "lower"),
    ("jvm.peak_rss_mb", "MB", "lower"),
    ("jvm.heap_peak_mb", "MB", "lower"),
    ("jvm.gc_pause_s", "s", "lower"),
    ("jvm.jit_compile_s", "s", "lower"),
    ("trace.wall_s", "s", "lower"),
    ("trace.unattributed_s", "s", "lower"),
    ("trace.unattributed_frac", "ratio", "lower"),
    ("trace.overhead_frac", "ratio", "lower"),
]


def tail(values):
    """(value, percentile, n) at the highest percentile that has at least
    ten samples beyond it. With ten samples or fewer, the maximum."""
    xs = sorted(values)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0, n
    k = n - 11
    return xs[k], 100.0 * (k + 1) / n, n


def merge(intervals):
    """Sorted, disjoint union of (start, end) intervals."""
    out = []
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [tuple(i) for i in out]


def length(intervals):
    return sum(e - s for s, e in merge(intervals))


def clip(intervals, window):
    ws, we = window
    return [(max(s, ws), min(e, we)) for s, e in intervals if min(e, we) > max(s, ws)]


def subtract(a, b):
    """Parts of the merged intervals `a` not covered by the merged `b`."""
    out, j = [], 0
    for s, e in a:
        cur = s
        while j < len(b) and b[j][1] <= cur:
            j += 1
        k = j
        while k < len(b) and b[k][0] < e:
            if b[k][0] > cur:
                out.append((cur, b[k][0]))
            cur = max(cur, b[k][1])
            k += 1
        if cur < e:
            out.append((cur, e))
    return out


def driver_gap(window, jobs):
    """Window length minus the union of the job spans inside it."""
    return (window[1] - window[0]) - length(clip(jobs, window))


def self_times(windows, layer_spans, priority):
    """Split every window among layers: each instant goes to the first layer
    in `priority` with a span covering it, the rest to None. A layer's self
    time is its span time minus what its child layers (earlier in
    `priority`) cover. Returns {layer: ns}."""
    out = {layer: 0 for layer in priority}
    out[None] = 0
    for w in windows:
        claimed = []
        for layer in priority:
            mine = merge(clip(layer_spans.get(layer, []), w))
            free = subtract(mine, claimed)
            out[layer] += sum(e - s for s, e in free)
            claimed = merge(claimed + mine)
        out[None] += (w[1] - w[0]) - sum(e - s for s, e in claimed)
    return out


def critical_path(deps, durations):
    """Longest dependency chain of a DAG, summing node durations."""
    memo = {}

    def finish(n):
        if n not in memo:
            memo[n] = durations.get(n, 0) + max((finish(d) for d in deps.get(n, [])), default=0)
        return memo[n]
    return max((finish(n) for n in deps), default=0)


def clean_units(units):
    """The units during which little CPU time was stolen from the machine,
    or every unit if none was."""
    return [u for u in units if u["clean"]] or list(units)


def end_to_end(raw):
    units = clean_units(raw["units"])
    return {
        "wall_s": statistics.median((u["end"] - u["start"]) / NS for u in units),
        "cpu_s": statistics.median(u["cpu_ns"] / NS for u in units),
        # cold: from the JVM's launch to the first measured unit
        "setup_s": raw["first_unit_epoch_ms"] / 1e3 - raw["launched_epoch_s"],
    }


def steps(raw):
    """Median and tail step latency with the sample count, for the artifact:
    at one run's sample size both spread too widely to be bounded metrics."""
    xs = [(s["end"] - s["start"]) / NS for s in raw["steps"]]
    value, pct, n = tail(xs)
    return {"n": n, "p50_s": statistics.median(xs), "tail_s": value, "tail_percentile": pct}


def overhead(raw):
    """Traced over untraced latency, minus 1: per query for `operators`
    (each query runs traced and untraced), per unit otherwise."""
    if raw["workload"] == "operators":
        by = {}
        for s in raw["steps"]:
            by.setdefault(s["name"], {True: [], False: []})[s["traced"]].append(s["end"] - s["start"])
        pairs = [(statistics.mean(v[True]), statistics.mean(v[False]))
                 for v in by.values() if v[True] and v[False]]
        return sum(t for t, _ in pairs) / sum(u for _, u in pairs) - 1 if pairs else 0.0
    units = clean_units(raw["units"])
    t = [u["end"] - u["start"] for u in units if u["traced"]]
    n = [u["end"] - u["start"] for u in units if not u["traced"]]
    return statistics.median(t) / statistics.median(n) - 1 if t and n else 0.0


def per_layer(raw):
    windows = [tuple(w) for w in raw.get("windows", [])]
    spans = [dict(zip(["id", "parent", "layer", "name", "start", "end", "bytes"], s))
             for s in raw.get("spans", [])]
    by_id = {s["id"]: s for s in spans}

    def inside(s):
        return any(s["start"] >= w[0] and s["end"] <= w[1] for w in windows)
    spans = [s for s in spans if inside(s)]
    jobs = [j for j in raw.get("jobs", []) if j["span"] in by_id and inside(by_id[j["span"]])]
    for j in jobs:
        if j["end"] < 0:
            j["end"] = by_id[j["span"]]["end"]
    phases = {"analysis": [], "optimization": [], "planning": []}
    actions = child_actions = 0
    for a in raw.get("actions", []):
        ph = {k: v for k, v in a["phases"].items() if any(clip([tuple(v)], w) for w in windows)}
        if ph:
            actions += 1
            child_actions += bool(a["child_session"])
        for k, v in ph.items():
            phases.setdefault(k, []).append(tuple(v))

    wall = sum(e - s for s, e in windows)
    layer_spans = {layer: [(s["start"], s["end"]) for s in spans if s["layer"] == layer]
                   for layer in SELF_LAYERS}
    layer_spans["exec"] = [(j["start"], j["end"]) for j in jobs]
    layer_spans["catalyst"] = [i for v in phases.values() for i in v]
    own = self_times(windows, layer_spans, SELF_LAYERS)

    def dur(layer, name=None, prefix=None):
        return sum(s["end"] - s["start"] for s in spans if s["layer"] == layer
                   and (name is None or s["name"] == name)
                   and (prefix is None or s["name"].startswith(prefix))) / NS

    def under(span_id, layer, name):
        while span_id in by_id:
            s = by_id[span_id]
            if s["layer"] == layer and s["name"] == name:
                return True
            span_id = s["parent"]
        return False

    def phase_s(k):
        return sum(length(clip(phases.get(k, []), w)) for w in windows) / NS

    task_s = sum(j["task_ms"] for j in jobs) / 1e3
    stages = [st for st in raw.get("stages", []) if st[1] >= 2]
    nodes = [s for s in spans if s["layer"] == "node"]
    groups = [s for s in spans if s["layer"] == "etlgroup"]
    group_len = sum(g["end"] - g["start"] for g in groups)
    dispatch_gap = sum((g["end"] - g["start"]) - length(
        [(n["start"], n["end"]) for n in nodes if n["parent"] == g["id"]]) for g in groups)
    cp = 0
    for d in raw.get("dags", []):
        durations = {n["name"].split("/", 1)[1]: n["end"] - n["start"]
                     for n in nodes if n["parent"] == d["group_span"]}
        cp += critical_path(d["deps"], durations)
    counters = raw.get("counters", {})
    snapshot_bytes = sum(s["bytes"] for s in spans if s["layer"] == "catalog" and s["name"] == "snapshot")

    def ratio(a, b):
        return a / b if b else 0.0

    m = {
        "queries.build_s": dur("queries"),
        "queries.self_s": own["queries"] / NS,
        "catalyst.analysis_s": phase_s("analysis"),
        "catalyst.optimization_s": phase_s("optimization"),
        "catalyst.planning_s": phase_s("planning"),
        "catalyst.actions": actions,
        "catalyst.child_session_actions": child_actions,
        "catalyst.self_s": own["catalyst"] / NS,
        "action.self_s": own["action"] / NS,
        "sched.jobs": len(jobs),
        "sched.stages": sum(j["stages"] for j in jobs),
        "sched.tasks": sum(j["tasks"] for j in jobs),
        "sched.driver_gap_s": sum(driver_gap(w, [(j["start"], j["end"]) for j in jobs]) for w in windows) / NS,
        "exec.busy_s": own["exec"] / NS,
        "exec.task_s": task_s,
        "exec.cpu_s": sum(j["cpu_ns"] for j in jobs) / NS,
        "exec.gc_s": sum(j["gc_ms"] for j in jobs) / 1e3,
        "exec.core_util": ratio(task_s, wall / NS * raw["cores"]),
        "exec.shuffle_write_mb": sum(j["shuffle_write"] for j in jobs) / MB,
        "exec.shuffle_read_mb": sum(j["shuffle_read"] for j in jobs) / MB,
        "exec.spill_mb": sum(j["spill"] for j in jobs) / MB,
        "exec.input_mb": sum(j["input"] for j in jobs) / MB,
        "exec.output_mb": sum(j["output"] for j in jobs) / MB,
        "exec.straggler_ratio": max((st[2] / st[3] for st in stages if st[3] > 0), default=1.0),
        "etlgroup.nodes": len(nodes),
        "etlgroup.node_busy_s": dur("node"),
        "etlgroup.dispatch_gap_s": dispatch_gap / NS,
        "etlgroup.mean_active_nodes": ratio(dur("node"), group_len / NS),
        "etlgroup.critical_path_s": cp / NS,
        "etlgroup.self_s": own["etlgroup"] / NS,
    }
    for f in NODE_FAMILIES:
        m[f"node.{f}_s"] = dur("node", prefix=f + "/")
    m.update({
        "node.self_s": own["node"] / NS,
        "catalog.write_calls": sum(1 for s in spans if s["layer"] == "catalog" and s["name"] == "write"),
        "catalog.write_s": dur("catalog", "write"),
        "catalog.write_mb": sum(j["output"] for j in jobs if under(j["span"], "catalog", "write")) / MB,
        "catalog.read_s": dur("catalog", "read"),
        "catalog.snapshot_calls": sum(1 for s in spans if s["layer"] == "catalog" and s["name"] == "snapshot"),
        "catalog.snapshot_s": dur("catalog", "snapshot"),
        "catalog.snapshot_mb": snapshot_bytes / MB,
        "catalog.load_cache_s": dur("catalog", "load_cache"),
        "catalog.snapshot_mb_per_changed_mb": ratio(snapshot_bytes, counters.get("changed_bytes", 0)),
        "catalog.stored_bytes_per_input_byte": ratio(counters.get("stored_bytes", 0),
                                                     counters.get("input_bytes", 0)),
        "catalog.self_s": own["catalog"] / NS,
        "sources.fetch_calls": counters.get("fetch_calls", 0),
        "sources.fetch_s": counters.get("fetch_s", 0.0),
        "sources.changed_frac": ratio(counters.get("fetch_changed", 0), counters.get("fetch_calls", 0)),
        "sources.self_s": own["sources"] / NS,
        "expr.affine_gap_ns": raw["expr"]["affine_gap_ns"],
        "expr.long_dot_ns": raw["expr"]["long_dot_ns"],
        "expr.sorted_intersect_ns": raw["expr"]["sorted_intersect_ns"],
        "jvm.peak_rss_mb": raw["peak_rss_mb"],
        "jvm.heap_peak_mb": raw["jvm"]["heap_peak_mb"],
        "jvm.gc_pause_s": raw["jvm"]["gc_pause_s"],
        "jvm.jit_compile_s": raw["jvm"]["jit_compile_s"],
        "trace.wall_s": wall / NS,
        "trace.unattributed_s": (own["op"] + own[None]) / NS,
        "trace.unattributed_frac": ratio(own["op"] + own[None], wall),
        "trace.overhead_frac": overhead(raw),
    })
    return m
