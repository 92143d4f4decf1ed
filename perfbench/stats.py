"""Arithmetic of the benchmark: turns the runner's raw record (setup times,
per-pass totals, spans, planning phases, checks) into the reported
metrics. Pure functions over plain data, so they are unit-tested
(test_stats.py) without Spark.
"""
import statistics

CORES = 4
MB = 1e6

# (name, unit) of the end-to-end metrics, reported by untraced runs.
END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("shuffle_mb", "MB"),
              ("peak_exec_mem_mb", "MB")]

# One span per public call, with the metrics only that call has.
SPANS = [
    ("graph.derive", []),
    ("algos.pagerank", ["supersteps", "superstep_ms_p50", "edges_per_s"]),
    ("engine.checkpoint_run", ["supersteps", "superstep_ms_p50", "out_mb"]),
    ("engine.resume", ["supersteps", "superstep_ms_p50", "out_mb"]),
    ("algos.cc", ["supersteps", "superstep_ms_p50"]),
    ("algos.lp", ["rounds"]),
    ("algos.kcore", []),
    ("algos.msf", []),
    ("algos.sssp_delta", []),
    ("algos.cc_incr", []),
    ("streaming.stream_cc", ["batches"]),
    ("algos.triangles", ["spill_mb"]),
    ("algos.lcc", ["spill_mb"]),
    ("algos.kclique4", ["spill_mb"]),
]
SPAN_METRICS = [("s", "s"), ("jobs", "count"), ("task_s", "s"),
                ("busy", "ratio"), ("plan_s", "s"), ("shuffle_mb", "MB")]
EXTRA_UNITS = {"supersteps": "count", "superstep_ms_p50": "ms",
               "edges_per_s": "1/s", "rounds": "count", "out_mb": "MB",
               "batches": "count", "spill_mb": "MB"}
PASS_METRICS = [("pass.s", "s"), ("pass.self_s", "s"), ("pass.coverage", "ratio")]
COVERAGE_TOLERANCE = 0.10


def per_layer_spec():
    """(name, unit) of every per-layer metric, in report order."""
    spec = list(PASS_METRICS)
    for span, extras in SPANS:
        spec += [(f"{span}.{m}", u) for m, u in SPAN_METRICS]
        spec += [(f"{span}.{m}", EXTRA_UNITS[m]) for m in extras]
    return spec


def median(values):
    return statistics.median(values) if values else 0.0


def quartiles(values):
    """(q1, median, q3), as statistics.quantiles(values, n=4) gives them."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    """Interquartile distance as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else 0.0


def busy(task_s, wall_s, cores=CORES):
    """Useful share of the cores a call held: executor time over wall × cores."""
    return task_s / (wall_s * cores) if wall_s > 0 else 0.0


def self_time(parent_s, child_s):
    """Time of a span not covered by its children."""
    return parent_s - sum(child_s)


def coverage(parent_s, child_s):
    """Share of a span's time that its children account for."""
    return sum(child_s) / parent_s if parent_s > 0 else 0.0


def plan_seconds(phases, windows):
    """Attributes Catalyst phases [start_ms, duration_ms] to the window
    (key, start_ms, end_ms) that holds each phase's start; returns
    {key: seconds}. Phases outside every window are dropped."""
    out = {}
    for start, ms in phases:
        for key, lo, hi in windows:
            if lo <= start <= hi:
                out[key] = out.get(key, 0.0) + ms / 1000.0
                break
    return out


def setup_seconds(setup):
    """Session start + the median of the repeated input set-ups + warm-up."""
    return setup["session_s"] + median(setup["gen_s"]) + setup["warmup_s"]


def end_to_end(raw):
    passes = raw["passes"]
    return {
        "setup_s": setup_seconds(raw["setup"]),
        "wall_s": median([p["wall_s"] for p in passes]),
        "shuffle_mb": median([p["shuffle_bytes"] for p in passes]) / MB,
        "peak_exec_mem_mb": median([p["peak_exec_mem_bytes"] for p in passes]) / MB,
    }


def _by_pass(raw):
    """{pass id: (pass span, {call name: span})} over the timed passes."""
    out = {}
    for s in raw["spans"]:
        entry = out.setdefault(s["pass"], [None, {}])
        if s["parent"] is None:
            entry[0] = s
        else:
            entry[1][s["name"]] = s
    return out


def span_value(span, metric, plan_s):
    """One per-layer figure of one call in one pass."""
    extra = span.get("extra", {})
    if metric == "s":
        return span["s"]
    if metric == "busy":
        return busy(span.get("task_s", 0.0), span["s"])
    if metric == "plan_s":
        return plan_s
    if metric.endswith("_mb"):
        key = {"shuffle_mb": "shuffle_bytes", "out_mb": "out_bytes",
               "spill_mb": "spill_bytes"}[metric]
        return span.get(key, 0) / MB
    if metric == "superstep_ms_p50":
        return median(extra.get("superstep_ms", []))
    if metric == "edges_per_s":
        steps, edges = extra.get("supersteps", 0), extra.get("edges", 0)
        return steps * edges / span["s"] if span["s"] > 0 else 0.0
    if metric in extra:
        return extra[metric]
    return span.get(metric, 0)


def per_layer(raw):
    """Median over the timed passes of every per-layer metric; a span the
    workload does not run reads 0."""
    by_pass = _by_pass(raw)
    windows = [((pid, name), s["start_ms"], s["end_ms"])
               for pid, (_, calls) in by_pass.items() for name, s in calls.items()]
    plans = plan_seconds(raw.get("plans", []), windows)
    samples = {name: [] for name, _ in per_layer_spec()}
    for pid, (top, calls) in by_pass.items():
        child = [s["s"] for s in calls.values()]
        samples["pass.s"].append(top["s"])
        samples["pass.self_s"].append(self_time(top["s"], child))
        samples["pass.coverage"].append(coverage(top["s"], child))
        for span, extras in SPANS:
            if span not in calls:
                continue
            for m in [m for m, _ in SPAN_METRICS] + extras:
                samples[f"{span}.{m}"].append(
                    span_value(calls[span], m, plans.get((pid, span), 0.0)))
    return {name: median(v) for name, v in samples.items()}


def coverage_checks(raw):
    """Each traced pass's calls must add up to its wall time within 10 %."""
    out = []
    for pid, (top, calls) in sorted(_by_pass(raw).items()):
        c = coverage(top["s"], [s["s"] for s in calls.values()])
        out.append({"name": f"spans_cover_pass_{pid}",
                    "ok": abs(1.0 - c) <= COVERAGE_TOLERANCE,
                    "detail": f"calls cover {c:.3f} of the pass"})
    return out


def result(raw, trace):
    """The benchmark's last output line, as a dict."""
    if not raw["passes"]:
        raise ValueError("no timed pass completed: " + str(raw.get("error")))
    checks = raw["checks"] + (coverage_checks(raw) if trace else [])
    failed_checks = sum(1 for c in checks if not c["ok"])
    jobs = sum(p["jobs"] for p in raw["passes"])
    failed_jobs = sum(p["failed_jobs"] for p in raw["passes"])
    errored = raw.get("error") is not None
    values = per_layer(raw) if trace else end_to_end(raw)
    units = dict(per_layer_spec() if trace else END_TO_END)
    return {
        "correct": not errored and failed_checks == 0 and failed_jobs == 0
        and bool(checks),
        "attempted": jobs + len(checks),
        "failed": failed_jobs + failed_checks + int(errored),
        "metrics": {n: {"value": values[n], "unit": units[n]} for n in units},
    }
