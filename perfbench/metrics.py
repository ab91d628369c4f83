"""Metric arithmetic over the op records the JVM side writes.

Pure functions of their inputs, so the self-tests can pin them.
"""
import math
import statistics

# Layers the benchmark opens spans for, in call order.
LAYERS = ["queries", "api", "plans", "spark", "streaming", "operators"]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def nearest_rank(sorted_xs, pct):
    """Value at percentile `pct` by the nearest-rank rule."""
    k = max(1, math.ceil(pct / 100.0 * len(sorted_xs)))
    return sorted_xs[k - 1]


def tail(xs):
    """The highest whole percentile with at least ten samples beyond it.

    Returns (value, percentile, sample count). With fewer than twenty
    samples no percentile above the median has ten beyond it, so the
    tail is the slowest sample, reported as p100."""
    n = len(xs)
    if n == 0:
        return 0.0, 100, 0
    s = sorted(xs)
    if n < 20:
        return s[-1], 100, n
    # Largest p whose nearest rank ceil(p*n/100) leaves >= 10 above.
    pct = math.floor(100.0 * (n - 10) / n)
    return nearest_rank(s, pct), pct, n


def union(intervals):
    """Merge intervals [(a, b)] into a sorted list of disjoint ones."""
    out = []
    for a, b in sorted((a, b) for a, b in intervals if b > a):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return out


def length(intervals):
    return sum(b - a for a, b in union(intervals))


def minus(a, b):
    """Length of the union of `a` not covered by the union of `b`."""
    covered = 0.0
    ub = union(b)
    for x0, x1 in union(a):
        for y0, y1 in ub:
            lo, hi = max(x0, y0), min(x1, y1)
            if hi > lo:
                covered += hi - lo
    return length(a) - covered


def dispatch_s(spark):
    """Time some job of the op was active with no task running (the
    scheduler's own latency between and around stages), in seconds."""
    jobs = [(a, b) for a, b in spark.get("job_intervals", []) if b >= 0]
    return minus(jobs, spark.get("task_intervals", [])) / 1e3


def self_times(spans):
    """Self time per span id: its duration minus the part of it that its
    child spans cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["t0"], s["t1"]))
    return {s["id"]: (s["t1"] - s["t0"]) - length(
        [(max(a, s["t0"]), min(b, s["t1"])) for a, b in kids.get(s["id"], [])])
        for s in spans}


def layer_self_times(spans):
    """Self time summed per layer."""
    st = self_times(spans)
    out = {}
    for s in spans:
        out[s["layer"]] = out.get(s["layer"], 0.0) + st[s["id"]]
    return out


def span_total(op, layer=None, name=None):
    """Summed duration of the op's spans matching layer and/or name."""
    return sum(s["t1"] - s["t0"] for s in op["spans"]
               if (layer is None or s["layer"] == layer)
               and (name is None or s["name"] == name))


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(ops, run):
    """The per-layer metrics of a traced run: means per traced op (timed,
    or one-off set-up ops) unless named otherwise."""
    traced = [o for o in ops if o["traced"]]
    untraced = [o for o in ops if not o["traced"] and o["extra"]["phase"] == "timed"]

    def kind(*ks):
        return [o for o in traced if o["kind"] in ks]

    def tot(o, k):
        return o["spark"].get("totals", {}).get(k, 0.0)

    def per_op(f, sel=None):
        return mean([f(o) for o in (traced if sel is None else sel)])

    walls = sum(o["wall_s"] for o in traced)
    cores = run["cores"]
    m = {
        "queries.build_s": per_op(lambda o: span_total(o, "queries"), kind("query")),
        "plans.plan_s": per_op(lambda o: span_total(o, "plans"), kind("query")),
        "spark.jobs": per_op(lambda o: tot(o, "jobs")),
        "spark.stages": per_op(lambda o: tot(o, "stages")),
        "spark.tasks": per_op(lambda o: tot(o, "tasks")),
        "spark.dispatch_s": per_op(lambda o: dispatch_s(o["spark"])),
        "spark.task_run_s": per_op(lambda o: tot(o, "task_run_s")),
        "spark.task_cpu_s": per_op(lambda o: tot(o, "task_cpu_s")),
        "spark.core_util": (sum(tot(o, "task_run_s") for o in traced) / (walls * cores)
                            if walls else 0.0),
        "spark.shuffle_write_bytes": per_op(lambda o: tot(o, "shuffle_write_bytes")),
        "spark.shuffle_read_bytes": per_op(lambda o: tot(o, "shuffle_read_bytes")),
        "spark.spill_bytes": per_op(lambda o: tot(o, "spill_bytes")),
        "spark.unattributed_jobs": sum(o["spark"].get("unattributed_jobs", 0) for o in traced),
        "api.search_s": per_op(lambda o: span_total(o, "api", "search"), kind("search")),
        "api.lookup_s": per_op(lambda o: span_total(o, "api", "lookup"), kind("lookup", "read")),
        "api.fallback_s": per_op(lambda o: span_total(o, "api", "lookup"), kind("fallback")),
        "streaming.apply_s": per_op(lambda o: span_total(o, "streaming", "apply"), kind("batch")),
        "streaming.jobs_per_batch": per_op(lambda o: tot(o, "jobs"), kind("batch")),
        "streaming.compact_s": per_op(lambda o: span_total(o, "streaming", "compact"), kind("compact")),
        "streaming.read_s": per_op(lambda o: span_total(o, "streaming", "read"), kind("read")),
        "sources.commits": per_op(lambda o: o["sources"].get("commits", 0)),
        "sources.files_written": per_op(lambda o: o["sources"].get("files_written", 0)),
        "sources.bytes_written": per_op(lambda o: o["sources"].get("bytes_written", 0)),
        "sources.bytes_read": per_op(lambda o: tot(o, "bytes_read")),
        "jvm.gc_s": per_op(lambda o: o["gc_s"]),
    }
    api_ops = kind("search", "lookup", "fallback", "read")
    rows = sum(o["units"] for o in api_ops)
    examined = sum(sum(v.get("records_read", 0.0) for k, v in o["spark"].get("per_span", {}).items()
                       if any(s["id"] == int(k) and s["layer"] == "api" for s in o["spans"]))
                   for o in api_ops)
    m["api.rows_examined_per_row"] = examined / rows if rows else 0.0
    writers = [o for o in traced if o["user_bytes"] > 0]
    ub = sum(o["user_bytes"] for o in writers)
    m["sources.write_amp"] = (sum(o["sources"].get("bytes_written", 0) for o in writers) / ub
                              if ub else 0.0)
    last = traced[-1]["sources"] if traced else {}
    m["sources.live_files"] = last.get("live_files", 0)
    m["sources.space_amp"] = (last["stored_data_bytes"] / last["live_bytes"]
                              if last.get("live_bytes") else 0.0)
    for name in ["dedup_append", "dedup_erase", "dedup_compact",
                 "ann_append", "ann_search", "ann_delete"]:
        m[f"operators.{name}_s"] = per_op(lambda o: span_total(o, "operators", name), kind(name))
    m["operators.dedup_pairs"] = run.get("info", {}).get("dedup_pairs", 0)
    selfs = [layer_self_times(o["spans"]) for o in traced]
    for layer in LAYERS:
        m[f"self.{layer}_s"] = mean([s.get(layer, 0.0) for s in selfs])
    covered = sum(sum(s.values()) for s in selfs)
    m["trace.coverage"] = covered / walls if walls else 0.0
    m["trace.overhead_share"] = overhead_share(
        [o for o in traced if o["extra"]["phase"] == "timed"], untraced)
    return m


def overhead_share(traced, untraced):
    """Traced over untraced latency, minus one: the geometric mean over
    op names of the ratio of their median wall times. Ops alternate
    between the two within one traced run, so both sides see the same
    op mix."""
    def by_name(ops):
        d = {}
        for o in ops:
            if o["ok"]:
                d.setdefault((o["kind"], o["name"] if o["kind"] == "query" else ""), []).append(o["wall_s"])
        return d
    t, u = by_name(traced), by_name(untraced)
    logs = [math.log(median(t[k]) / median(u[k])) for k in t if k in u and median(u[k]) > 0]
    return math.exp(mean(logs)) - 1.0 if logs else 0.0
