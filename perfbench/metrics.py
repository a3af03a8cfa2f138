"""Metric definitions and their computation from the runner's records.

Every metric the benchmark prints is computed here, from the per-operation,
per-pass and per-tick records the JVM runner writes. An operation that threw
or returned a wrong result is never counted as a time.
"""
import math
import statistics

# Workload parameters. Sizes are fixed here, never chosen from measured time.
WORKLOADS = {
    "mix_sf001": {"sf": 0.01},
    "etl_ingest": {"rows": 30_000, "snapshots": 20},
}

KERNELS = ["dot_product_float", "dot_product_float_double", "sq_dist_double",
           "mask_intersect_count", "char_entropy", "minhash_band_sigs"]

# Every end-to-end metric is printed for every workload, so each is defined
# on both. An operation is a query (mix_sf001) or a load tick (etl_ingest);
# a pass is the query list once, or a fixed number of load/no-op tick pairs.
# Times are CPU seconds of the JVM process (driver, task slots and GC; not
# the JIT compiler threads), not wall time: on a shared host, wall time
# mostly measures what other machines do, while CPU time counts the work done.
# Wall times are printed to stderr and kept in the raw records.
END_TO_END = {  # name -> unit
    "setup_s": "s",            # median CPU time of the run's set-ups
    "pass_cpu_s": "s",         # median CPU time of a pass's operations
    "op_cpu_p50_s": "s",       # median CPU time of one operation (Harrell-Davis)
    "bytes_written_per_input_byte": "ratio",  # write(2) bytes per input byte
    "peak_heap_mb": "MB",      # live heap after a full GC, peak over the run
}

PER_LAYER = dict(
    [("ops.build_s", "s"), ("ops.build_jobs", "count"), ("ops.scope_builds", "count"),
     ("ops.scope_resident", "count"), ("ops.table_miss_s", "s"), ("ops.table_hit_s", "s"),
     ("plans.plan_s", "s"),
     ("exec.s", "s"), ("exec.jobs", "count"), ("exec.stages", "count"),
     ("exec.tasks", "count"), ("exec.failed_tasks", "count"), ("exec.task_run_s", "s"),
     ("exec.task_cpu_s", "s"), ("exec.gc_s", "s"), ("exec.util", "ratio"),
     ("exec.input_bytes", "bytes"), ("exec.shuffle_read_bytes", "bytes"),
     ("exec.shuffle_write_bytes", "bytes"), ("exec.spill_bytes", "bytes"),
     ("exec.final_exchanges", "count"), ("exec.final_range_exchanges", "count")]
    + [(f"functions.{k}.{m}", "ns") for k in KERNELS for m in ("ns_per_row", "builtin_ns_per_row")]
    + [("pipeline.choose_s", "s"), ("pipeline.commit_s", "s"),
       ("sources.jdbc_write_s", "s"), ("sources.jdbc_write_rows_per_s", "1/s"),
       ("sources.grant_s", "s"), ("sources.jdbc_read_s", "s"),
       ("sources.bytes_written", "bytes"), ("sources.files_written", "count"),
       ("trace.overhead_s", "s")])


def median(xs):
    return statistics.median(xs) if xs else 0.0


def hd_median(xs):
    """Harrell-Davis estimate of the median: the mean of the order statistics
    weighted by a Beta((n+1)/2, (n+1)/2) density. Per-query times of the mix
    are sparse near the middle, so the sample median jumps between two
    neighbours when a little noise swaps their ranks; this estimate moves
    smoothly instead."""
    xs = sorted(xs)
    n = len(xs)
    if n < 3:
        return median(xs)
    a = (n + 1) / 2
    log_norm = math.lgamma(2 * a) - 2 * math.lgamma(a)

    def pdf(t):
        return math.exp(log_norm + (a - 1) * math.log(t * (1 - t))) if 0 < t < 1 else 0.0

    steps = 32  # Simpson's rule per order statistic; even
    weights = []
    for i in range(n):
        lo, h = i / n, 1 / (n * steps)
        ys = [pdf(lo + j * h) for j in range(steps + 1)]
        weights.append(h / 3 * (ys[0] + ys[-1] + 4 * sum(ys[1:-1:2]) + 2 * sum(ys[2:-1:2])))
    return sum(w * x for w, x in zip(weights, xs)) / sum(weights)


def p90(xs):
    """90th percentile, linear between closest ranks."""
    if not xs:
        return 0.0
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=10, method="inclusive")[-1]


def _ok(recs):
    return [r for r in recs if r.get("correct")]


def timed_ops(result):
    """The correct operations whose times are metrics: queries, or load ticks."""
    return _ok(result["ops"]) + [t for t in _ok(result["ticks"]) if t["kind"] == "load"]


def pass_totals(result, key):
    """Per pass, the sum of `key` over its correct operations (and no-op ticks)."""
    by_pass = {}
    for o in _ok(result["ops"]) + _ok(result["ticks"]):
        by_pass[o["pass"]] = by_pass.get(o["pass"], 0.0) + o[key]
    return list(by_pass.values())


def end_to_end(workload, result):
    m = {"setup_s": median(result["setup_cpu_s"]),
         "pass_cpu_s": median(pass_totals(result, "cpu_s")),
         "op_cpu_p50_s": hd_median([o["cpu_s"] for o in timed_ops(result)]),
         "peak_heap_mb": result["peak_heap_mb"]}
    if workload == "etl_ingest":
        ticks = _ok(result["ticks"])
        written = sum(t["tick_bytes_written"] for t in ticks)
        read = sum(t["input_bytes"] for t in ticks if t["kind"] == "load")
    else:
        written = sum(p["bytes_written"] for p in result["passes"])
        read = result["input_bytes"] * len(result["passes"])
    m["bytes_written_per_input_byte"] = written / read if read else 0.0
    return m


def wall_summary(result):
    """Wall-clock figures for stderr: they are not metrics (see END_TO_END)."""
    walls = [o["wall_s"] for o in timed_ops(result)]
    return (f"wall: setup_s {median(result['setup_s']):.3f}, "
            f"pass_s {median(pass_totals(result, 'wall_s')):.3f}, "
            f"op_p50_s {median(walls):.3f}, op_p90_s {p90(walls):.3f} "
            f"over {len(walls)} operations")


def per_layer(workload, result):
    """Per-layer totals per pass; medians per tick for the ETL loop."""
    m = {k: 0.0 for k in PER_LAYER}
    ops = _ok(result["ops"])
    ticks = _ok(result["ticks"])
    loads = [t for t in ticks if t["kind"] == "load"]
    n = len(result["passes"]) or 1

    def add(name, v):
        m[name] += v / n

    for o in ops:
        add("ops.build_s", o["build_s"])
        add("ops.build_jobs", o["build"]["jobs"])
        add("plans.plan_s", o["plan_s"])
        add("exec.s", o["exec_s"])
        for k, v in o["exec"].items():
            add(f"exec.{k}", v + o["plan"][k])
        add("exec.final_exchanges", o["final_exchanges"])
        add("exec.final_range_exchanges", o["final_range_exchanges"])
    for t in ticks:
        add("exec.s", t["wall_s"])
        for k, v in t["exec"].items():
            add(f"exec.{k}", v)
    for p in result["passes"]:
        add("trace.overhead_s", p["trace_s"])
    m["exec.util"] = m["exec.task_run_s"] / (m["exec.s"] * result["cores"]) if m["exec.s"] else 0.0
    if ops:
        m["ops.scope_builds"] = median([p["scope_builds"] for p in result["passes"]])
        m["ops.scope_resident"] = max(p["scope_after"] for p in result["passes"])
    memo = result.get("table_memo") or {}
    m["ops.table_miss_s"] = memo.get("miss_s", 0.0)
    m["ops.table_hit_s"] = memo.get("hit_s", 0.0)
    for k, v in result.get("functions", {}).items():
        if v["agree"]:
            m[f"functions.{k}.ns_per_row"] = v["ns_per_row"]
            m[f"functions.{k}.builtin_ns_per_row"] = v["builtin_ns_per_row"]
    if ticks:
        m["pipeline.choose_s"] = median([t["choose_s"] for t in ticks])
    if loads:
        m["sources.jdbc_read_s"] = median([t["read_back_s"] for t in loads])
        m["pipeline.commit_s"] = median([t["commit_s"] for t in loads])
        m["sources.jdbc_write_s"] = median([t["write_s"] for t in loads])
        m["sources.jdbc_write_rows_per_s"] = WORKLOADS[workload]["rows"] / m["sources.jdbc_write_s"]
        m["sources.grant_s"] = median([t["grant_s"] for t in loads])
        m["sources.bytes_written"] = median([t["bytes_written"] for t in loads])
        m["sources.files_written"] = median([t["files_written"] for t in loads])
    return m


def compute(workload, result, traced):
    """The printed metrics: every end-to-end metric, or every per-layer one."""
    if traced:
        vals, units = per_layer(workload, result), PER_LAYER
    else:
        vals, units = end_to_end(workload, result), END_TO_END
    return {k: {"value": float(vals.get(k, 0.0)), "unit": units[k]} for k in units}


def trace_summary(result):
    """One screen: self time per layer over the traced run."""
    self_s = result.get("trace_self_s", {})
    total = sum(self_s.values()) or 1.0
    lines = ["layer        self_s   share"]
    for layer, s in sorted(self_s.items(), key=lambda kv: -kv[1]):
        lines.append(f"{layer:<10} {s:8.3f}  {100 * s / total:5.1f}%")
    lines.append(f"listener drain (tracing cost): {result.get('trace_drain_s', 0.0):.3f} s")
    return "\n".join(lines)
