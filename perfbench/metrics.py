"""Turns the JVM's raw record (operations, spans, Spark ledger) into the
benchmark's metrics. The arithmetic the metrics rest on is kept in small
functions that test_metrics.py checks."""
import bisect
import statistics


def tail(samples):
    """Latency at the highest percentile that still has at least ten
    samples beyond it: (value, percentile, samples beyond). With ten or
    fewer samples no percentile qualifies and the maximum is returned
    with nothing beyond it."""
    xs = sorted(samples)
    n = len(xs)
    k = n - 10 if n > 10 else n
    return xs[k - 1], 100.0 * k / n, n - k


def union_length(intervals):
    """Total length covered by (start, end) intervals."""
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


def self_time(span, children):
    """A span's duration minus the union of its children, clipped to it."""
    s, e = span
    clipped = [(max(s, cs), min(e, ce)) for cs, ce in children if ce > s and cs < e]
    return (e - s) - union_length(clipped)


def write_amp(bytes_written, final_bytes):
    """Bytes written to single-file sinks per byte of the files they leave."""
    return bytes_written / final_bytes if final_bytes else 0.0


def core_occupancy(task_run_s, wall_s, cores):
    """Share of the cores' time spent running tasks."""
    return task_run_s / (wall_s * cores) if wall_s > 0 and cores > 0 else 0.0


# --- per run ---------------------------------------------------------------

def _dur_s(op):
    return (op["end"] - op["start"]) / 1e3


def end_to_end(raw, ops, t_start):
    """The end-to-end metrics over `ops`, plus report-only extras."""
    ok = [o for o in ops if not o["err"]]
    lat = [_dur_s(o) for o in ops]
    busy = sum(lat)
    value, pct, beyond = tail(lat)
    m = {
        "setup_s": raw["timed_start"] / 1e3 - t_start,
        "ops_per_s": len(ok) / busy,
        "latency_p50_s": statistics.median(lat),
        "latency_tail_s": value,
        "driver_rss_peak_mb": raw["rss_peak_mb"],
    }
    extra = {
        "latency_tail_percentile": pct,
        "latency_tail_samples_beyond": beyond,
        "latency_samples": len(lat),
        "error_rate": (len(ops) - len(ok)) / len(ops),
        "host.steal_s": raw["steal_s"],
        "jvm.gc_s": raw["gc_s"],
    }
    if raw["workload"] == "convert":
        extra["rows_per_s"] = raw["user_rows"] * len(ok) / busy
        extra["mdb_bytes_per_user_byte"] = raw["mdb_bytes"] / raw["user_bytes"]
        extra["sqlite_bytes_per_user_byte"] = raw["db_bytes"] / raw["user_bytes"]
    else:
        extra["queries_per_s"] = m["ops_per_s"]
    return m, extra


def per_layer(raw, ops, untraced_ops):
    """The per-layer metrics over the traced operations. Counts and times
    are per round (one pass over the workload's operations)."""
    rounds = len({o["round"] for o in ops})
    per = (lambda v: v / rounds) if rounds else (lambda v: 0.0)
    spans = raw["spans"]
    by_parent = {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s)
    op_spans = by_parent.get(0, [])

    def total(name):
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name) / 1e3

    # attribute each job to the operation in flight when it was submitted
    op_iv = sorted((o["start"], o["end"]) for o in ops)
    starts = [s for s, _ in op_iv]
    construct = sorted((s["start"], s["end"]) for s in spans if s["name"] == "construct")
    c_starts = [s for s, _ in construct]

    def inside(ivs, keys, t):
        i = bisect.bisect_right(keys, t) - 1
        return i >= 0 and ivs[i][0] <= t <= ivs[i][1], i

    ledger = raw["ledger"] or {"jobs": [], "stages": []}
    jobs = {}
    construct_jobs = 0
    for j in ledger["jobs"]:
        hit, i = inside(op_iv, starts, j["start"])
        if hit:
            end = j["end"] if j["end"] >= 0 else op_iv[i][1]
            jobs[j["id"]] = (i, j["start"], end)
            construct_jobs += inside(construct, c_starts, j["start"])[0]
    stages = [s for s in ledger["stages"] if s["job"] in jobs]
    task_run_s = sum(s["run_ms"] for s in stages) / 1e3
    busy_s = sum(_dur_s(o) for o in ops)
    gap_s = 0.0
    for i, (s, e) in enumerate(op_iv):
        ivs = [(max(s, js), min(e, je)) for (k, js, je) in jobs.values() if k == i]
        gap_s += ((e - s) - union_length(ivs)) / 1e3
    n_tasks = sum(s["tasks"] for s in stages)
    topk_in = sum(o["topk_in"] for o in ops)
    topk_out = sum(o["topk_out"] for o in ops)
    arts = raw.get("artifact_rounds", [])
    art_rounds = len(arts)

    def art(key):
        return sum(a[key] for a in arts) / art_rounds if art_rounds else 0.0

    setup = raw.get("setup_artifacts", {})
    kernels = raw.get("kernels", {})
    final_files = raw.get("mdb_bytes", 0) + raw.get("db_bytes", 0)
    written = raw.get("jet_bytes_written", 0) + raw.get("sqlite_bytes_written", 0)
    conv_spans = [s for s in op_spans if s["name"] in ("reverse", "forward")]
    ops_self = sum(self_time((s["start"], s["end"]),
                             [(c["start"], c["end"]) for c in by_parent.get(s["id"], [])])
                   for s in conv_spans) / 1e3
    traced_mean = statistics.mean(_dur_s(o) for o in ops)
    untraced_mean = statistics.mean(_dur_s(o) for o in untraced_ops)
    return {
        "queries.construct_s": per(total("construct")),
        "queries.construct_jobs": per(construct_jobs),
        "queries.action_s": per(total("action")),
        "spark.jobs": per(len(jobs)),
        "spark.stages": per(len(stages)),
        "spark.tasks": per(n_tasks),
        "spark.jobs_per_query": len(jobs) / len(ops),
        "spark.tasks_per_stage": n_tasks / len(stages) if stages else 0.0,
        "spark.task_run_s": per(task_run_s),
        "spark.task_cpu_s": per(sum(s["cpu_ns"] for s in stages) / 1e9),
        "spark.task_wait_s": per(sum(s["wait_ms"] for s in stages) / 1e3),
        "spark.core_occupancy": core_occupancy(task_run_s, busy_s, raw["cpus"]),
        "spark.driver_gap_s": per(gap_s),
        "spark.shuffle_write_bytes": per(sum(s["shuffle_write"] for s in stages)),
        "spark.shuffle_read_bytes": per(sum(s["shuffle_read"] for s in stages)),
        "spark.spill_bytes": per(sum(s["spill"] for s in stages)),
        "spark.failed_tasks": per(sum(s["failed"] for s in stages)),
        "plans.topk_rows_in": per(topk_in),
        "plans.topk_rows_out": per(topk_out),
        "plans.topk_keep_ratio": topk_out / topk_in if topk_in else 0.0,
        "operators.build_s": per(sum(o["build_s"] for o in ops)),
        "operators.commits": art("commits"),
        "operators.setup_build_s": setup.get("build_s", 0.0),
        "operators.setup_commits": setup.get("commits", 0),
        "operators.scratch_files": setup.get("files", 0),
        "operators.scratch_bytes_written": setup.get("bytes", 0),
        "operators.scratch_bytes_per_input_byte":
            setup.get("bytes", 0) / raw["input_bytes"] if raw.get("input_bytes") else 0.0,
        "functions.minhash_rows_per_s": kernels.get("minhash", 0.0),
        "functions.simhash_rows_per_s": kernels.get("simhash", 0.0),
        "functions.winnow_rows_per_s": kernels.get("winnow", 0.0),
        "functions.cp1252_rows_per_s": kernels.get("cp1252", 0.0),
        "functions.cosine_rows_per_s": kernels.get("cosine", 0.0),
        "sources.jet_write_s": per(total("jet.truncateLoad")),
        "sources.jet_read_s": per(total("jet.read")),
        "sources.sqlite_write_s": per(total("sqlite.truncateLoad")),
        "sources.sqlite_read_s": per(total("sqlite.read")),
        "sources.file_bytes_written": per(written),
        "sources.write_amp": write_amp(per(written), final_files),
        "ops.reverse_s": per(total("reverse")),
        "ops.forward_s": per(total("forward")),
        "ops.self_s": per(ops_self),
        "jvm.gc_s": raw["gc_s"],
        "host.steal_s": raw["steal_s"],
        "trace.overhead_frac": traced_mean / untraced_mean - 1.0,
    }


END_TO_END_UNITS = {
    "setup_s": "s", "ops_per_s": "1/s", "latency_p50_s": "s",
    "latency_tail_s": "s", "driver_rss_peak_mb": "MiB",
}
EXTRA_UNITS = {
    "latency_tail_percentile": "%", "latency_tail_samples_beyond": "count",
    "latency_samples": "count", "error_rate": "fraction", "host.steal_s": "s",
    "jvm.gc_s": "s", "rows_per_s": "rows/s", "queries_per_s": "1/s",
    "mdb_bytes_per_user_byte": "ratio", "sqlite_bytes_per_user_byte": "ratio",
}


def layer_unit(name):
    if name.endswith("_rows_per_s"):
        return "rows/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes") or name.endswith("_written"):
        return "bytes"
    if name.endswith(("_ratio", "_occupancy", "_frac", "_amp", "_per_input_byte",
                      "_per_query", "_per_stage")):
        return "ratio"
    return "count"
