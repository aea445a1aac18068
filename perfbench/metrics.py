"""Metrics of one run, from the harness's result.json.

End-to-end metrics come from untraced runs; per-layer metrics from traced
runs, whose spans carry the listener's counters. Names and units are those
of BENCHMARK.json.
"""
import math
import statistics

MB = 1e6
MODULES = ("Similarity", "Sketches", "CorpusPrep", "TextOps", "TrainingData", "Audit")
DENSE_KEYS = ("q115_knn_label", "q31_embed_neardup", "q25_minhash_neardup",
              "q157_cross_source_dups", "q219_dedup_degree_hist", "q178_merkle_manifest",
              "q174_join_skew_audit")
JOB_FLOOR_KEYS = ("q62b_dedup_clusters_star", "q213_blockmax_wand", "q226_query_expansion",
                  "q169_dq_audit", "q182_join_cardinality")
ENDPOINTS = ("ride_by_id", "riders", "rider_by_id", "riders_by_gender", "riders_by_age",
             "rides_by_gender", "rides_for_rider", "daily")

END_TO_END = {
    "setup_s": "s", "wall_s": "s", "op_p50_ms": "ms", "op_tail_ms": "ms", "task_cpu_s": "s", "shuffle_mb": "MB", "heap_peak_mb": "MB",
}


def per_layer_units():
    units = {"setup.session_s": "s", "construct_s": "s"}
    units.update({f"construct_s.{m}": "s" for m in MODULES})
    units.update({"staging.families": "count", "staging.files": "count", "staging.mb": "MB",
                  "plan_s": "s", "jobs": "count", "stages": "count", "tasks": "count",
                  "exec_s": "s"})
    units.update({f"exec_s.{m}": "s" for m in MODULES})
    units.update({"task_s": "s", "max_task_s": "s", "core_busy": "ratio", "scan_mb": "MB",
                  "shuffle_read_mb": "MB", "spill_mb": "MB", "result_mb": "MB", "gc_s": "s"})
    for k in DENSE_KEYS:
        units[f"exec_s.{k}"] = "s"
        units[f"max_task_s.{k}"] = "s"
    units.update({f"jobs.{k}": "count" for k in JOB_FLOOR_KEYS})
    units.update({"logsource.scan_s": "s", "logsource.rows": "count", "logsource.tasks": "count",
                  "logsource.max_task_s": "s", "pipeline.users_s": "s", "pipeline.rides_s": "s",
                  "pipeline.upsert_s": "s", "pipeline.shuffle_mb": "MB",
                  "pipeline.max_task_s": "s"})
    units.update({f"endpoint.{f}.p50_ms": "ms" for f in ENDPOINTS})
    units.update({"endpoint.json_s": "s", "endpoint.jobs": "count",
                  "host.steal_pct": "%", "host.calib_s": "s"})
    return units


PER_LAYER = per_layer_units()


def hd_quantile(values, p, grid=20000):
    """The Harrell-Davis estimate of the p-quantile: the mean of all order
    statistics, each weighted by the Beta((n+1)p, (n+1)(1-p)) mass of its
    share of (0, 1]. On a few dozen samples it is much steadier than the
    single order statistic at that rank."""
    xs = sorted(values)
    n = len(xs)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    w = [0.0] * n
    for j in range(grid):  # midpoint rule over the Beta density
        t = (j + 0.5) / grid
        w[min(n - 1, int(t * n))] += math.exp((a - 1) * math.log(t) + (b - 1) * math.log1p(-t))
    return sum(wi * x for wi, x in zip(w, xs)) / sum(w)


def tail_latency(values):
    """The highest percentile with at least ten samples beyond it. Below
    forty samples that percentile is no tail, so p90 stands in for it: the
    estimate then weights the slowest few operations."""
    n = len(values)
    return hd_quantile(values, (n - 10) / n if n >= 40 else 0.9)


def read_steal():
    """(steal, total) jiffies of the whole host, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
        return fields[7] if len(fields) > 7 else 0, sum(fields[:8])
    except OSError:
        return 0, 0


def steal_pct(before, after):
    d_total = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / d_total if d_total > 0 else 0.0


def compute(workload, result, launch_s, cores, traced, steal):
    ops = result["ops"]
    if not traced:
        lat = [o["total_s"] * 1000 for o in ops]
        total = result["total"]
        values = {
            "setup_s": result["first_op_epoch_ms"] / 1000 - launch_s,
            "wall_s": result["wall_s"],
            "op_p50_ms": hd_quantile(lat, 0.5),
            "op_tail_ms": tail_latency(lat),
            "task_cpu_s": total["cpu_ns"] / 1e9,
            "shuffle_mb": total["shuffle_write_bytes"] / MB,
            "heap_peak_mb": result["heap_peak_bytes"] / MB,
        }
        return {k: (values[k], END_TO_END[k]) for k in END_TO_END}
    values = dict.fromkeys(PER_LAYER, 0.0)
    spans = result["spans"]
    counters = result["span_counters"]
    measured = [s for s in spans if not s["name"].startswith("u:")]

    def summed(pred, field):
        return sum(c[field] for name, c in counters.items() if not name.startswith("u:")
                   and pred(name))

    def maxed(pred):
        return max([c["max_task_ms"] for name, c in counters.items()
                    if not name.startswith("u:") and pred(name)] or [0]) / 1000

    total = result["total"]
    values["setup.session_s"] = result["session_s"]
    queries = [o for o in ops if o["kind"] == "query"]
    values["construct_s"] = sum(o["construct_s"] for o in queries)
    values["plan_s"] = sum(o["plan_s"] for o in queries)
    values["exec_s"] = sum(o["exec_s"] for o in queries)
    for m in MODULES:
        values[f"construct_s.{m}"] = sum(o["construct_s"] for o in queries if o["module"] == m)
        values[f"exec_s.{m}"] = sum(o["exec_s"] for o in queries if o["module"] == m)
    staging = result.get("staging") or []
    if staging:
        values["staging.families"] = statistics.mean(s["families"] for s in staging)
        values["staging.files"] = statistics.mean(s["files"] for s in staging)
        values["staging.mb"] = statistics.mean(s["bytes"] for s in staging) / MB
    values["jobs"] = total["jobs"]
    values["stages"] = total["stages"]
    values["tasks"] = total["tasks"]
    values["task_s"] = total["task_ms"] / 1000
    values["max_task_s"] = total["max_task_ms"] / 1000
    values["scan_mb"] = total["input_bytes"] / MB
    values["shuffle_read_mb"] = total["shuffle_read_bytes"] / MB
    values["spill_mb"] = total["spill_bytes"] / MB
    values["result_mb"] = total["result_bytes"] / MB
    values["gc_s"] = sum(s["gc_ms"] for s in measured) / 1000
    for k in DENSE_KEYS:
        values[f"exec_s.{k}"] = sum(o["exec_s"] for o in queries if o["key"] == k)
        values[f"max_task_s.{k}"] = maxed(lambda n, k=k: n.split("|")[-1].split("#")[0] == k)
    for k in JOB_FLOOR_KEYS:
        reps = sum(1 for o in queries if o["key"] == k)
        if reps:
            values[f"jobs.{k}"] = summed(lambda n, k=k: n.split("|")[-1].split("#")[0] == k,
                                         "jobs") / reps
    steps = result.get("steps", {})
    requests = [o for o in ops if o["kind"] == "request"]
    if workload == "deloton-ingest-serve":
        scans = result["logsource_scans"]
        logsource = [c for name, c in counters.items() if name.startswith("u:logsource.")]
        values["logsource.scan_s"] = sum(s["seconds"] for s in scans)
        values["logsource.rows"] = sum(s["rows"] for s in scans)
        values["logsource.tasks"] = sum(c["tasks"] for c in logsource)
        values["logsource.max_task_s"] = max([c["max_task_ms"] for c in logsource] or [0]) / 1000
        values["pipeline.users_s"] = steps.get("pipeline.users|b1", 0.0)
        values["pipeline.rides_s"] = sum(v for k, v in steps.items()
                                         if k.startswith("pipeline.rides"))
        values["pipeline.upsert_s"] = steps.get("pipeline.upsert|b2", 0.0)
        values["pipeline.shuffle_mb"] = summed(lambda n: n.startswith("pipeline."),
                                               "shuffle_write_bytes") / MB
        values["pipeline.max_task_s"] = maxed(lambda n: n.startswith("pipeline."))
        for f in ENDPOINTS:
            lat = [o["total_s"] * 1000 for o in requests if o["fn"] == f]
            values[f"endpoint.{f}.p50_ms"] = hd_quantile(lat, 0.5) if lat else 0.0
        values["endpoint.json_s"] = sum(o["json_s"] for o in requests)
        values["endpoint.jobs"] = summed(lambda n: n.startswith("endpoint."), "jobs")
        windows = [(o["start_ms"], o["end_ms"]) for o in requests]
        values["plan_s"] = sum(e - s for s, e in result.get("plan_phases", [])
                               if any(a <= s and e <= b for a, b in windows)) / 1000
        values["exec_s"] = values["endpoint.json_s"] + sum(
            v for k, v in steps.items() if k.startswith("pipeline."))
    if values["exec_s"] > 0:
        values["core_busy"] = values["task_s"] / (cores * values["exec_s"])
    values["host.steal_pct"] = steal
    values["host.calib_s"] = result["calib_end_s"]
    return {k: (values[k], PER_LAYER[k]) for k in PER_LAYER}
