"""Metric arithmetic of the lifecycle benchmark: percentiles, span self
time, and the end-to-end and per-layer metrics derived from the facts
file the benchmark JVM writes per workload."""
import statistics

PIPELINE_SPANS = [
    "sources.load", "sources.upsert", "processors.enrich", "sampling.sample",
    "index.project_write", "dedup.find", "dedup.incremental",
    "outliers.jackknife", "outliers.expert",
]
PIPELINE_FIELDS = [("s", "s"), ("plan_ms", "ms"), ("task_s", "s"),
                   ("gc_s", "s"), ("shuffle_mb", "MB"), ("spill_mb", "MB"),
                   ("task_skew", "ratio")]
SERVING_SPANS = ["serving.lookup", "serving.search", "serving.download"]
SERVING_FIELDS = [("plan_ms", "ms"), ("exec_ms", "ms"), ("jobs", "count"),
                  ("tasks", "count")]
# (name, unit, better) of the per-layer counts and ratios
COUNTS = [
    ("sources.load.scan_tasks", "count", "lower"),
    ("processors.assertions", "count", "lower"),
    ("sampling.distinct_points", "count", "lower"),
    ("sampling.points_per_record", "ratio", "lower"),
    ("sampling.hit_ratio", "ratio", "higher"),
    ("index.mb_written", "MB", "lower"),
    ("index.files", "count", "lower"),
    ("index.bytes_per_record", "B", "lower"),
    ("dedup.max_block_rows", "count", "lower"),
    ("dedup.flagged_ratio", "ratio", "higher"),
    ("dedup.touched_taxa_ratio", "ratio", "lower"),
    ("outliers.jackknife.groups", "count", "higher"),
    ("outliers.expert.outliers", "count", "higher"),
    ("serving.lookup.files_read", "count", "lower"),
    ("serving.lookup.rows_scanned_per_row", "ratio", "lower"),
    ("serving.queue_ms", "ms", "lower"),
    ("serving.gen_late_ms", "ms", "lower"),
    ("delta.jobs_per_batch", "count", "lower"),
    ("delta.drift", "ratio", "lower"),
    ("delta.heap_slope_mb", "MB", "lower"),
    ("trace.coverage", "ratio", "higher"),
]


def per_layer_spec():
    """Every per-layer metric as (name, unit, better)."""
    out = []
    for span in PIPELINE_SPANS:
        for field, unit in PIPELINE_FIELDS:
            out.append((f"{span}.{field}", unit, "lower"))
    for span in SERVING_SPANS:
        for field, unit in SERVING_FIELDS:
            out.append((f"{span}.{field}", unit, "lower"))
    return out + COUNTS


END_TO_END = [
    ("setup_s", "s", "lower"),
    ("peak_rss_mb", "MB", "lower"),
    ("recs_per_s", "rec/s", "higher"),
    ("p50_ms", "ms", "lower"),
]


def percentile(xs, p):
    """Linear-interpolated percentile (p in 0..100) of a non-empty list."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of an empty list")
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail_percentile(n):
    """Highest of 99/95/90/75/50 with at least ten samples beyond it."""
    for p in (99, 95, 90, 75):
        if n * (100 - p) / 100.0 >= 10:
            return p
    return 50


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_times(spans):
    """Span id -> duration minus the part of it its children cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["t0"], s["t1"]))
    out = {}
    for s in spans:
        kids = [(max(a, s["t0"]), min(b, s["t1"]))
                for a, b in children.get(s["id"], []) if b > s["t0"] and a < s["t1"]]
        out[s["id"]] = (s["t1"] - s["t0"]) - union_length(kids)
    return out


def roots_of(spans):
    """Span id -> id of its top-level ancestor."""
    parent = {s["id"]: s["parent"] for s in spans}
    root = {}
    for sid in parent:
        r = sid
        while parent.get(r, 0) != 0:
            r = parent[r]
        root[sid] = r
    return root


def med(xs):
    return statistics.median(xs) if xs else 0.0


def skew(task_ms):
    if not task_ms:
        return 0.0
    m = statistics.median(task_ms)
    return max(task_ms) / m if m > 0 else 0.0


def slope(ys):
    """Least-squares slope of ys against 0..n-1."""
    n = len(ys)
    if n < 2:
        return 0.0
    mx = (n - 1) / 2.0
    my = sum(ys) / n
    num = sum((i - mx) * (y - my) for i, y in enumerate(ys))
    return num / sum((i - mx) ** 2 for i in range(n))


def ops_of(p, kind=None):
    return [o for o in p["ops"] if kind is None or o["kind"] == kind]


def end_to_end(facts, peak_rss_mb):
    """The BENCHMARK.json end-to-end metrics of one workload."""
    p = facts["phase"]
    setup = facts["session_s"] + med(facts["setup_reps_s"]) + facts["prereq_s"]
    if facts["workload"] == "bulk":
        # the first pass, in a fresh JVM: later passes run warm
        first = ops_of(p)[0]
        rate = first["recs"] / (first["ingest_s"] + first["analytics_s"])
        p50 = first["wall_s"] * 1e3
    else:
        ops = ops_of(p)
        rate = sum(o["rows"] for o in ops) / p["wall_s"]
        p50 = med([o["latency_s"] for o in ops]) * 1e3
    return {"setup_s": setup, "peak_rss_mb": peak_rss_mb, "recs_per_s": rate,
            "p50_ms": p50}


def named(facts):
    """The workload's own metrics, by the names the benchmark doc uses."""
    p = facts["phase"]
    out = {"failed_ops_ratio": (facts["failed"] / facts["attempted"], "ratio")}
    if facts["workload"] == "bulk":
        passes = ops_of(p)
        first = passes[0]
        out["ingest_recs_per_s"] = (first["recs"] / first["ingest_s"], "rec/s")
        out["analytics_recs_per_s"] = (first["recs"] / first["analytics_s"], "rec/s")
        out["delta_batch_p50_s"] = (med([o["delta_s"] for o in passes]), "s")
        out["delta_recs_per_s"] = (sum(o["delta_recs"] for o in passes) /
                                   sum(o["delta_s"] for o in passes), "rec/s")
        out["passes"] = (len(passes), "count")
    else:
        for kind, pcts in (("lookup", True), ("search", True), ("download", False)):
            lat = [o["latency_s"] * 1e3 for o in ops_of(p, kind)]
            if not lat:
                continue
            out[f"{kind}_p50_ms"] = (percentile(lat, 50), "ms")
            if pcts:
                tp = tail_percentile(len(lat))
                out[f"{kind}_p99_ms"] = (percentile(lat, 99), "ms")
                out[f"{kind}_tail_p{tp}_ms"] = (percentile(lat, tp), "ms")
            out[f"{kind}_n"] = (len(lat), "count")
        out["requests"] = (len(ops_of(p)), "count")
    return out


def per_layer(facts):
    """Per-layer metrics of a traced run; 0 where a layer did not run."""
    tp = facts["phase"]
    spans = tp["spans"]
    root = roots_of(spans)
    selfs = self_times(spans)
    out = {name: 0.0 for name, _, _ in per_layer_spec()}
    # pipeline layers: summed per top-level span (a pass), median over passes
    tops = [s["id"] for s in spans if s["parent"] == 0]
    for name in PIPELINE_SPANS:
        per_root = {}
        for s in spans:
            if s["name"] == name:
                per_root.setdefault(root[s["id"]], []).append(s)
        if not per_root:
            continue
        rows = list(per_root.values())
        out[f"{name}.s"] = med([sum(x["t1"] - x["t0"] for x in r) for r in rows])
        for f in ("plan_ms", "task_s", "gc_s", "shuffle_mb", "spill_mb"):
            out[f"{name}.{f}"] = med([sum(x[f] for x in r) for r in rows])
        out[f"{name}.task_skew"] = med([skew([t for x in r for t in x["task_ms"]])
                                        for r in rows])
        if name == "sources.load":
            out["sources.load.scan_tasks"] = med([sum(x["tasks"] for x in r) for r in rows])
    for name in SERVING_SPANS:
        ss = [s for s in spans if s["name"] == name]
        if ss:
            out[f"{name}.plan_ms"] = med([s["plan_ms"] for s in ss])
            out[f"{name}.exec_ms"] = med([s["job_s"] * 1e3 for s in ss])
            out[f"{name}.jobs"] = med([s["jobs"] for s in ss])
            out[f"{name}.tasks"] = med([s["tasks"] for s in ss])
    for k, v in facts.get("counters", {}).items():
        out[k] = v
    out["dedup.max_block_rows"] = facts["truth"].get("max_block_rows", 0.0)
    if facts["workload"] == "bulk":
        batches = [s for s in spans if s["name"] == "delta.batch"]
        out["delta.jobs_per_batch"] = med([
            sum(x["jobs"] for x in spans if _under(x, b["id"], spans)) for b in batches])
        # the first pass runs cold; drift compares the warm batches after it
        d = [o["delta_s"] for o in ops_of(tp)]
        d = d[1:] if len(d) > 2 else d
        q = max(1, len(d) // 4)
        out["delta.drift"] = med(d[-q:]) / med(d[:q])
        out["delta.heap_slope_mb"] = slope(tp.get("heap_mb", []))
        layer = sum(selfs[s["id"]] for s in spans if s["parent"] != 0)
        out["trace.coverage"] = layer / sum(s["t1"] - s["t0"] for s in spans
                                            if s["id"] in tops)
    else:
        ops = ops_of(tp)
        out["serving.queue_ms"] = med([o["queue_s"] * 1e3 for o in ops])
        out["serving.gen_late_ms"] = med([o["late_s"] * 1e3 for o in ops])
        out["trace.coverage"] = (sum(s["t1"] - s["t0"] for s in spans if s["parent"] == 0) /
                                 sum(o["service_s"] for o in ops))
    return out


def _under(span, ancestor, spans):
    parent = {s["id"]: s["parent"] for s in spans}
    p = span["parent"]
    while p:
        if p == ancestor:
            return True
        p = parent.get(p, 0)
    return False


def blocking_path(facts):
    """Blocking path of a traced run: (sum of span self times, sum of the
    blocking operations' wall), seconds. A pass blocks in `bulk`; in
    `serve` each request's service time does."""
    p = facts["phase"]
    selfs = self_times(p["spans"])
    key = "wall_s" if facts["workload"] == "bulk" else "service_s"
    return sum(selfs.values()), sum(o[key] for o in ops_of(p))


def blocking_wall(facts):
    """Wall of one blocking operation, seconds: the first (cold) pass on
    `bulk`, the median request service time on `serve`."""
    ops = ops_of(facts["phase"])
    if facts["workload"] == "bulk":
        return ops[0]["wall_s"]
    return med([o["service_s"] for o in ops])


def layer_self_times(facts):
    """Span name -> total self time in the traced phase, seconds."""
    spans = facts["phase"]["spans"]
    selfs = self_times(spans)
    out = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + selfs[s["id"]]
    return out
