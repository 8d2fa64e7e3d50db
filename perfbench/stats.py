"""Metric math: from the jobs of one run to the reported numbers.

The harness (`harness/graft/perfbench/BenchMain.scala`) writes one record
per timed job; `run.py` adds `out_bytes`, the bytes the job wrote. Every
timing is a median over the run's samples; `run.py` prints the counts.
"""

import statistics

# name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "job_wall_s": ("s", "lower"),
    "throughput_per_s": ("1/s", "higher"),
    "job_cpu_s": ("s", "lower"),
}

QUERY_SPANS = ("queries.plan", "queries.exec")
# name -> (unit, spans whose totals are summed, field of the totals), or
# (unit, None, key of the job's extras)
SPAN_METRICS = {
    "fhir.scan_rewrite.wall_s": ("s", ("fhir.scan_rewrite",), "wall_s"),
    "fhir.scan_rewrite.cpu_s": ("s", ("fhir.scan_rewrite",), "cpu_s"),
    "fhir.scan_rewrite.tasks": ("count", ("fhir.scan_rewrite",), "tasks"),
    "fhir.route_write.wall_s": ("s", ("fhir.route_write",), "wall_s"),
    "fhir.route_write.cpu_s": ("s", ("fhir.route_write",), "cpu_s"),
    "fhir.route_write.files_out": ("count", None, "fhir.route_write.files_out"),
    "fhir.route_write.bytes_out": ("B", None, "fhir.route_write.bytes_out"),
    "fhir.rawstat.wall_s": ("s", ("fhir.rawstat",), "wall_s"),
    "fhir.rawstat.cpu_s": ("s", ("fhir.rawstat",), "cpu_s"),
    "fhir.rawstat.shuffle_mb": ("MB", ("fhir.rawstat",), "shuffle_mb"),
    "fhir.rawstat.files_out": ("count", None, "fhir.rawstat.files_out"),
    "fhir.facts.wall_s": ("s", ("fhir.facts",), "wall_s"),
    "fhir.facts.cpu_s": ("s", ("fhir.facts",), "cpu_s"),
    "fhir.facts.jobs": ("count", ("fhir.facts",), "jobs"),
    "fhir.bundles_skipped": ("count", None, "fhir.bundles_skipped"),
    "ext.scrub.wall_s": ("s", ("ext.scrub",), "wall_s"),
    "ext.scrub.cpu_s": ("s", ("ext.scrub",), "cpu_s"),
    "ext.export.wall_s": ("s", ("ext.export",), "wall_s"),
    "ext.export.cpu_s": ("s", ("ext.export",), "cpu_s"),
    "ext.export.shuffle_mb": ("MB", ("ext.export",), "shuffle_mb"),
    "ext.centroids.wall_s": ("s", ("ext.centroids",), "wall_s"),
    "ext.centroids.jobs": ("count", ("ext.centroids",), "jobs"),
    "ext.semdedup.wall_s": ("s", ("ext.semdedup",), "wall_s"),
    "ext.semdedup.cpu_s": ("s", ("ext.semdedup",), "cpu_s"),
    "ext.semdedup.task_skew": ("ratio", ("ext.semdedup",), "task_skew"),
    "ext.manifest.wall_s": ("s", ("ext.manifest",), "wall_s"),
    "queries.plan_s": ("s", ("queries.plan",), "wall_s"),
    "queries.exec_s": ("s", ("queries.exec",), "wall_s"),
    "queries.cpu_s": ("s", QUERY_SPANS, "cpu_s"),
    "queries.jobs": ("count", QUERY_SPANS, "jobs"),
    "queries.tasks": ("count", QUERY_SPANS, "tasks"),
    "queries.shuffle_mb": ("MB", QUERY_SPANS, "shuffle_mb"),
}

# name -> (unit, field of the job record)
RUNTIME_METRICS = {
    "runtime.gc_s": ("s", "gc_s"),
    "runtime.jit_s": ("s", "jit_s"),
    "runtime.tasks": ("count", "tasks"),
    "runtime.task_retries": ("count", "task_retries"),
    "runtime.spill_mb": ("MB", "spill_mb"),
}
# the JVM's high-water RSS follows the garbage collector's heap sizing more
# than the program (5 seeds: 27% interquartile spread), so it is reported
# here, without a bound, rather than as an end-to-end metric
PEAK_RSS = "runtime.peak_rss_mb"

# metrics of untraced jobs that only some workloads define (0 on the
# others), so they cannot be end-to-end metrics, which every workload reports
UNTRACED_METRICS = {"write_amp": "ratio", "query_p50_s": "s", "query_p90_s": "s"}

PER_LAYER = {**{k: v[0] for k, v in SPAN_METRICS.items()},
             "queries.slot_util": "ratio",
             **{k: v[0] for k, v in RUNTIME_METRICS.items()},
             "runtime.session_s": "s", PEAK_RSS: "MB", **UNTRACED_METRICS,
             "trace.overhead_s": "s"}


def median(values):
    values = list(values)
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def spread(values):
    """Interquartile distance as a share of the median (quartiles as
    `statistics.quantiles(values, n=4)` gives them)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def percentile(values, p):
    """The `p`-th percentile, interpolated linearly between the two
    nearest samples (`statistics.quantiles(..., method='inclusive')`)."""
    values = sorted(values)
    if not values:
        raise ValueError("percentile of no samples")
    k = (len(values) - 1) * p / 100
    lo = int(k)
    hi = min(lo + 1, len(values) - 1)
    return values[lo] + (values[hi] - values[lo]) * (k - lo)


def slot_util(cpu_s, exec_s, slots=4):
    """Share of the executor slots' time spent on CPU while queries ran."""
    return cpu_s / (exec_s * slots) if exec_s > 0 else 0.0


def write_amp(bytes_out, bytes_in):
    """Bytes a job wrote per byte of its input."""
    if bytes_in <= 0:
        raise ValueError("no input bytes")
    return bytes_out / bytes_in


def task_skew(task_ms):
    """Longest task over the median task; the median is floored at 1 ms,
    the resolution of Spark's task durations."""
    if not task_ms:
        return 0.0
    return max(task_ms) / max(median(task_ms), 1.0)


def end_to_end(run):
    """End-to-end metrics of a run from its set-up time and its timed
    jobs (the untraced ones)."""
    jobs = [j for j in run["jobs"] if not j["traced"]]
    wall = median(j["wall_s"] for j in jobs)
    return {
        "setup_s": run["session_s"] + run["warmup_s"],
        "job_wall_s": wall,
        "throughput_per_s": run["records"] / wall,
        "job_cpu_s": median(j["cpu_s"] for j in jobs),
    }


def _span_value(job, spans, field):
    if spans is None:
        return job["extras"].get(field, 0)
    totals = [job["spans"][s] for s in spans if s in job["spans"]]
    if field == "task_skew":
        return task_skew([ms for t in totals for ms in t["task_ms"]])
    return sum(t[field] for t in totals)


def untraced(run, input_bytes):
    """`UNTRACED_METRICS` of a run's untraced jobs: bytes written per input
    byte, and the latency of single queries over every (query, job)."""
    jobs = [j for j in run["jobs"] if not j["traced"]]
    query_s = [s for j in jobs for s in j["extras"].get("query_s", [])]
    return {
        "write_amp": median(write_amp(j["out_bytes"], input_bytes) for j in jobs),
        "query_p50_s": percentile(query_s, 50) if query_s else 0.0,
        "query_p90_s": percentile(query_s, 90) if query_s else 0.0,
    }


def per_layer(run, input_bytes):
    """Per-layer metrics: span metrics from the traced jobs, runtime
    metrics from all, the session part of set-up, the JVM's peak RSS,
    `UNTRACED_METRICS`, and the tracing overhead (median traced job wall
    minus median untraced job wall)."""
    jobs = run["jobs"]
    traced = [j for j in jobs if j["traced"]]
    plain = [j for j in jobs if not j["traced"]]
    out = {name: median(_span_value(j, spans, field) for j in traced)
           for name, (_, spans, field) in SPAN_METRICS.items()}
    out["queries.slot_util"] = median(
        slot_util(_span_value(j, QUERY_SPANS, "cpu_s"),
                  _span_value(j, ("queries.exec",), "wall_s")) for j in traced)
    out.update({name: median(j[field] for j in jobs)
                for name, (_, field) in RUNTIME_METRICS.items()})
    out["runtime.session_s"] = run["session_s"]
    out[PEAK_RSS] = run["peak_rss_mb"]
    out.update(untraced(run, input_bytes))
    out["trace.overhead_s"] = (median(j["wall_s"] for j in traced)
                               - median(j["wall_s"] for j in plain))
    return out
