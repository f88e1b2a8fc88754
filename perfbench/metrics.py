"""Pure functions from a run's raw records to its metrics.

Kept free of I/O so `tests/` can check the arithmetic directly.
"""
import math
import statistics

MIB = 1048576.0

# Spans that only group others. Their own time is the trace's unattributed
# remainder; every other span name is a layer ("io.read", "sql.plan", ...).
STRUCTURAL = {"pass", "query"}

# Layers whose span self time is reported as `<name>_s`, in report order.
LAYERS = ["session.register", "io.read", "pipeline.construct", "queries.construct",
          "sql.plan", "ops.exec", "io.sink_reports", "io.sink_charts"]

# Catalog queries whose construction builds a session memo.
MEMO_QUERIES = ("q71_", "q104_", "q115_", "q124_", "q129_")

# Frames of one `AnalysisReport` besides its shared stage.
REPORT_FRAMES = 9


def median(xs):
    return statistics.median(xs)


def percentile(xs, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    s = sorted(xs)
    return s[max(0, math.ceil(p / 100.0 * len(s)) - 1)]


def tail_percentile(xs, candidates=(99, 95, 90, 75, 50), beyond=10):
    """The highest candidate percentile that keeps at least `beyond`
    samples above it, as (p, value); None when even the lowest does not."""
    s = sorted(xs)
    n = len(s)
    for p in candidates:
        idx = max(0, math.ceil(p / 100.0 * n) - 1)
        if n - (idx + 1) >= beyond:
            return p, s[idx]
    return None


def covered(intervals, lo, hi):
    """Length of the union of `intervals` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans):
    """{span id: duration minus the part of it its child spans cover}."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"]) - covered(kids.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def owner_span(job, spans):
    """The span a job ran under: its tag, else the innermost span whose
    interval holds the job's start."""
    if job["span"] >= 0:
        return job["span"]
    inside = [s for s in spans if s["start"] <= job["start"] <= s["end"]]
    return max(inside, key=lambda s: s["start"])["id"] if inside else -1


def cache_reads(stages):
    """For stages in id order: does the stage read a cached or checkpointed
    RDD that an earlier stage materialized? The first stage that touches a
    persisted RDD computes it; later ones read it."""
    seen, out = set(), []
    for st in stages:
        out.append(any(r in seen for r in st["persisted"]))
        seen.update(st["persisted"])
    return out


def layer_metrics(spans, jobs, cores, cache_peak_mb, kind):
    """Per-layer metrics of one traced pass, in seconds, counts and MiB.
    Layer self times plus `trace.unattributed_s` add up to `trace.pass_s`."""
    ms = 1e-3  # span and job times are epoch milliseconds
    byid = {s["id"]: s for s in spans}
    root = next(s for s in spans if s["parent"] == -1)
    selfs = self_times(spans)
    m = {f"{name}_s": 0.0 for name in LAYERS}
    unattributed = 0.0
    for s in spans:
        if s["name"] in STRUCTURAL:
            unattributed += selfs[s["id"]] * ms
        else:
            m[f"{s['name']}_s"] = m.get(f"{s['name']}_s", 0.0) + selfs[s["id"]] * ms
    pass_s = (root["end"] - root["start"]) * ms
    m["trace.pass_s"] = pass_s
    m["trace.unattributed_s"] = unattributed
    m["queries.memo_construct_s"] = sum(
        selfs[s["id"]] * ms for s in spans
        if s["name"] == "queries.construct" and s.get("label", "").startswith(MEMO_QUERIES))

    def layer_of(job):
        sid = owner_span(job, spans)
        while sid >= 0 and byid[sid]["name"] in STRUCTURAL:
            sid = byid[sid]["parent"]
        return byid[sid]["name"] if sid >= 0 else "pass"

    layers = [layer_of(j) for j in jobs]
    stages = sorted((st for j in jobs for st in j["stages"]), key=lambda st: st["id"])
    total = lambda key: sum(st[key] for st in stages)
    reads_cache = cache_reads(stages)
    m["pipeline.construct_jobs"] = layers.count("pipeline.construct")
    m["queries.construct_jobs"] = layers.count("queries.construct")
    m["io.sink_jobs"] = layers.count("io.sink_reports") + layers.count("io.sink_charts")
    m["io.sink_share"] = (m["io.sink_reports_s"] + m["io.sink_charts_s"]) / pass_s
    # a stage that reads cached blocks counts their rows as input too
    scans = [st for st, cached in zip(stages, reads_cache) if st["scans_files"] and not cached]
    m["io.scan_task_s"] = sum(st["run_s"] for st in scans)
    m["io.scan_rows"] = sum(st["input_rows"] for st in scans)
    m["pipeline.cached_mb"] = cache_peak_mb if kind == "pipeline" else 0.0
    m["ops.jobs"] = len(jobs)
    m["ops.stages"] = len(stages)
    m["ops.tasks"] = total("tasks")
    m["ops.task_cpu_s"] = total("cpu_s")
    m["ops.task_run_s"] = total("run_s")
    m["ops.core_busy"] = total("run_s") / (pass_s * cores)
    m["ops.driver_gap_s"] = pass_s - covered(
        [(j["start"], j["end"]) for j in jobs], root["start"], root["end"]) * ms
    m["ops.shuffle_write_mb"] = total("shuffle_write_b") / MIB
    m["ops.shuffle_read_mb"] = total("shuffle_read_b") / MIB
    m["ops.spill_mb"] = total("spill_b") / MIB
    m["ops.gc_s"] = total("gc_s")
    n_frames = REPORT_FRAMES if kind == "pipeline" else max(1, sum(
        1 for s in spans if s["name"] == "query"))
    m["ops.cache_reads_per_report"] = sum(reads_cache) / n_frames
    return m
