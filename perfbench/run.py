#!/usr/bin/env python3
"""Benchmark of the graft engine: dashboard, ingest and index workloads.

Usage (from the repository root):
  python3 perfbench/run.py --workload dashboard|ingest|index --seed N \
      --seconds S --trace 0|1

Builds the engine and the benchmark's Scala side from source (into
.bench_build/, reused while the sources are unchanged), generates the
workload's inputs from the seed, runs the workload in one JVM for whole
rounds of timed ops lasting at least S seconds, checks the outputs,
prints a report and, as the last line, one JSON object with the metrics. Exits non-zero when an
output check fails. See perfbench/README.md for the metric catalogue.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

BUILD = ".bench_build"
HEAP = "2g"
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]

# BENCHMARK.json end-to-end metrics, with what each one means per workload.
E2E = {
    "setup_s": ("s", {}),
    "op_p50_s": ("s", {"dashboard": "query_p50_s", "ingest": "batch_p50_s",
                       "index": "append_p50_s"}),
    "op_tail_s": ("s", {"dashboard": "query_tail_s", "ingest": "batch_tail_s",
                        "index": "append_tail_s"}),
    "op_rate_per_s": ("1/s", {"dashboard": "queries_per_s", "ingest": "events_per_s",
                              "index": "docs_per_s"}),
    "read_p50_s": ("s", {"dashboard": "lookup_hit_p50_s", "ingest": "read_p50_s",
                         "index": "search_p50_s"}),
    "answer_recall": ("ratio", {"dashboard": "oracle_match", "ingest": "fresh_reads",
                                "index": "ann_recall_at_10"}),
    "stored_bytes_ratio": ("ratio", {}),
    "rss_peak_mb": ("MB", {}),
}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The jar directory build.sbt compiles against (its unmanagedBase)."""
    try:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open("build.sbt").read())
    except OSError:
        m = None
    d = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not glob.glob(os.path.join(d, "scala-compiler-*.jar")):
        fail(f"no Spark/Scala jars at {d!r}")
    return d


def build(jars):
    """Compile the engine's main sources plus perfbench/scala, once per
    distinct source tree."""
    srcs = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True)) + \
        sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    if not any(s.startswith("src/") for s in srcs):
        fail("no engine sources under src/main/scala: run from the repository root")
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s).encode())
        h.update(open(s, "rb").read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, "OK")):
        return out, False
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.time()
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
                        f"-Djava.io.tmpdir={tmp}", "-cp", os.path.join(jars, "*"),
                        "scala.tools.nsc.Main", "-usejavacp", "-classpath", tmp, "-nowarn",
                        "-d", tmp] + srcs,
                       capture_output=True, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail("build failed")
    open(os.path.join(tmp, "OK"), "w").write(f"{time.time() - t0:.1f}\n")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    print(f"built {out} in {time.time() - t0:.1f} s", file=sys.stderr)
    return out, True


def run_jvm(classes, jars, workload, rundir, seconds, trace, deadline):
    inp, store, out = (os.path.join(rundir, d) for d in ("input", "store", "out"))
    tmp = os.path.join(rundir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # No perf-data file: the JVM would write it outside the checkout.
    cmd = ["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}{os.pathsep}{os.path.join(jars, '*')}", "perfbench.Main",
            workload, inp, store, out, str(seconds), str(trace)]
    with open(os.path.join(rundir, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        sys.stderr.write(open(os.path.join(rundir, "jvm.log")).read()[-6000:])
        fail(f"workload JVM exited with {rc}")
    ops = [json.loads(line) for line in open(os.path.join(out, "ops.jsonl"))]
    return ops, json.load(open(os.path.join(out, "run.json")))


def end_to_end(workload, ops, run, recall):
    timed = [o for o in ops if o["extra"]["phase"] == "timed"]

    def walls(*kinds):
        return [o["wall_s"] for o in timed if o["kind"] in kinds and o["ok"]]
    # A dashboard request is any of the four kinds; the summary-hit
    # lookups are also read_p50_s, and the fallbacks are printed apart.
    primary, read = {"dashboard": (("query", "search", "lookup", "fallback"), ("lookup",)),
                     "ingest": (("batch",), ("read",)),
                     "index": (("dedup_append",), ("ann_search",))}[workload]
    op_walls = walls(*primary)
    tail, pct, n = metrics.tail(op_walls)
    p50 = metrics.median(op_walls)
    if workload == "dashboard":
        rate = len(op_walls) / run["timed_s"]
    elif workload == "ingest":
        rate = sum(o["units"] for o in timed if o["kind"] == "batch" and o["ok"]) / run["timed_s"]
    else:
        app = [o for o in timed if o["kind"] == "dedup_append" and o["ok"]]
        rate = sum(o["units"] for o in app) / sum(o["wall_s"] for o in app) if app else 0.0
    values = {
        "setup_s": run["setup_s"],
        "op_p50_s": p50,
        "op_tail_s": tail,
        "op_rate_per_s": rate,
        "read_p50_s": metrics.median(walls(*read)),
        "answer_recall": recall,
        "stored_bytes_ratio": run["stored_bytes"] / run["user_bytes"] if run["user_bytes"] else 0.0,
        "rss_peak_mb": run["rss_peak_mb"],
    }
    counts = {"pct": pct, "n": n, "n_read": len(walls(*read))}
    if workload == "dashboard":
        # Fallback lookups are timed apart from summary hits, so the
        # assumed hit/fallback mix cannot shape read_p50_s.
        counts["fallback"] = (metrics.median(walls("fallback")), len(walls("fallback")))
    return values, counts


def cpu_times():
    """Aggregate CPU jiffies from /proc/stat (empty where unavailable)."""
    try:
        return [int(x) for x in open("/proc/stat").readline().split()[1:]]
    except OSError:
        return []


def steal_share(a, b):
    """Share of CPU time the hypervisor gave to other guests (Linux's
    'steal' column) between two samples: host noise, not engine time."""
    if len(a) < 8 or len(b) < 8:
        return float("nan")
    d = [y - x for x, y in zip(a, b)]
    return d[7] / sum(d) if sum(d) else 0.0


def per_layer_unit(name):
    if ".bytes_" in name:
        return "bytes"
    for suffix, unit in (("_s", "s"), ("_bytes", "bytes"), ("_amp", "ratio"),
                         ("_util", "ratio"), ("_per_row", "ratio"), ("coverage", "ratio"),
                         ("_share", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    start = time.time()
    jars = spark_jars()
    classes, built = build(jars)
    # A run ends within 180 s; the first run in a checkout also builds.
    deadline = start + (880 if built else 170)
    rundir = os.path.abspath(os.path.join(BUILD, "runs", f"{a.workload}-s{a.seed}-{os.getpid()}"))
    shutil.rmtree(rundir, ignore_errors=True)
    try:
        t0 = time.time()
        plan = gen.generate(a.workload, a.seed, os.path.join(rundir, "input"))
        gen_s = time.time() - t0
        cpu0 = cpu_times()
        ops, run = run_jvm(classes, jars, a.workload, rundir, a.seconds, a.trace, deadline)
        cpu1 = cpu_times()
        inp, out = os.path.join(rundir, "input"), os.path.join(rundir, "out")
        if a.workload == "dashboard":
            bad, recall, notes = checks.dashboard(ops, inp, out)
        elif a.workload == "ingest":
            bad, recall, notes = checks.ingest(ops, inp, out, plan, run["info"]["batches_applied"])
        else:
            bad, recall, notes = checks.index(ops, inp, out, plan)
        attempted = len(ops)
        values, counts = end_to_end(a.workload, ops, run, recall)
    finally:
        shutil.rmtree(rundir, ignore_errors=True)

    correct = bad == 0
    print(f"perfbench {a.workload} seed={a.seed} seconds={a.seconds:g} trace={a.trace} "
          f"cores={run['cores']} timed={run['timed_s']:.2f}s inputs={gen_s:.2f}s "
          f"cpu_steal={steal_share(cpu0, cpu1):.1%}")
    for name, (unit, alias) in E2E.items():
        label = f"{alias[a.workload]} ({name})" if a.workload in alias else name
        extra = ""
        if name == "op_tail_s":
            extra = f"  p{counts['pct']} of n={counts['n']}"
        elif name in ("op_p50_s", "op_rate_per_s"):
            extra = f"  n={counts['n']}"
        elif name == "read_p50_s":
            extra = f"  n={counts['n_read']}"
        print(f"  {label:<40} {values[name]:.6g} {unit}{extra}")
        if name == "read_p50_s" and "fallback" in counts:
            v, k = counts["fallback"]
            print(f"  {'lookup_fallback_p50_s':<40} {v:.6g} s  n={k}")
    print(f"  {'setup parts':<40} " + " ".join(
        f"{k}={v:.2f}s" for k, v in run["info"].get("setup_parts", {}).items()))
    print(f"  {'error_rate':<40} {bad / attempted:.6g} ratio  ({bad} failed of {attempted} attempted)")
    result_metrics = {k: {"value": v, "unit": E2E[k][0]} for k, v in values.items()}
    if a.trace:
        layer = metrics.per_layer(ops, run)
        for k, v in layer.items():
            print(f"  {k:<40} {v:.6g} {per_layer_unit(k)}")
        result_metrics = {k: {"value": v, "unit": per_layer_unit(k)} for k, v in layer.items()}
    for line in notes:
        print("  " + line)
    print(f"  checks: {'PASS' if correct else 'FAIL'}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": bad,
                      "metrics": result_metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
