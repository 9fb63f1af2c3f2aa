#!/usr/bin/env python3
"""perfbench: the repo's benchmark, one command.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the engine and the benchmark's JVM program from source (sbt, offline;
rebuilt only when a source changes), generates the workload's inputs from
the seed, runs one JVM (explicit heap, local[cores]) that sets up the
production session and replays the workload as a closed loop with one
client for S seconds, checks every op's output, and prints the metrics.
The last stdout line is the result object; the line before it is the full
record (per-op plan shapes, contention, per-layer numbers). With --trace 1
the run measures an untraced, a traced and another untraced window, and
reports the per-layer metrics of the traced window and the tracing
overhead against the two untraced ones. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import inputs  # noqa: E402

WORKLOADS = {
    "sql_interactive": {"sf": 0.1, "cycles": 12},
    "ingest_lookup": {"cycles": 16, "writes": 6, "insert_rows": 100, "import_rows": 400},
    "curation_batch": {"sf": 0.1, "cycles": 20},
}
HEAP = "4g"
SETUPS = 5
RUN_LIMIT_S = 150  # the JVM must end by then; checks follow, all within 180 s
# span coverage the traced window must show: over all ops, the layer spans
# account for 95% of op wall time; no single op leaves more than 20% (or
# 50 ms, a GC pause between two spans) unattributed
COVERAGE = 0.95
OP_UNATTRIBUTED = (0.20, 50.0)
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_child(cmd, cwd, env, timeout, log):
    """Run a child in its own process group; kill the group on timeout."""
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def sources_stamp():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True)
                   + glob.glob(os.path.join(BENCH, "src/**/*.scala"), recursive=True)
                   + [os.path.join(BENCH, "build.sbt"),
                      os.path.join(BENCH, "project/build.properties")])
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the engine and the measuring program with sbt once per source
    state; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src/main/scala", "graft")):
        fail("engine sources (src/main/scala) not found next to perfbench/")
    out = os.path.join(BENCH, ".build")
    os.makedirs(out, exist_ok=True)
    stamp, cp_file = sources_stamp(), os.path.join(out, "classpath.txt")
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    if "-Dsbt.offline" not in env.get("SBT_OPTS", ""):
        repos = os.path.expanduser("~/.sbt/repositories")
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true -Xmx2g"
                           + (f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
                              if os.path.exists(repos) else "")).strip()
    log = os.path.join(out, "build.log")
    t0 = time.time()
    rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                    "export Runtime/fullClasspath"], BENCH, env, 850, log)
    lines = open(log).read().strip().splitlines()
    if rc != 0 or not lines or ".jar" not in lines[-1]:
        fail(f"build failed (exit {rc}); see {log}")
    open(cp_file, "w").write(lines[-1].strip())
    open(stamp_file, "w").write(stamp)
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    return lines[-1].strip()


def jvm(cp, workload, script, work, seconds, trace, cores, timeout):
    """Run the measuring JVM; return its run record and the oracle texts."""
    out = os.path.join(work, "out")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(out, exist_ok=True)
    cmd = (["java", f"-Xmx{HEAP}"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Dspark.local.dir={work}/spark-local", f"-Djava.io.tmpdir={work}/tmp",
              f"-Dspark.sql.warehouse.dir={work}/warehouse", f"-Dderby.system.home={work}",
              "-cp", cp, "graft.perfbench.Main", "--workload", workload,
              "--script", script, "--out", out,
              "--seconds", str(seconds), "--trace", str(trace), "--setups", str(SETUPS)])
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores), SPARK_LOCAL_DIRS=f"{work}/spark-local")
    log = os.path.join(work, "jvm.log")
    rc = run_child(cmd, work, env, timeout, log)
    if rc != 0:
        tail = "".join(open(log).readlines()[-20:])
        fail(f"benchmark JVM exited {rc}; log tail:\n{tail}")
    run = json.load(open(os.path.join(out, "run.json")))
    oracles = os.path.join(out, "oracles.json")
    return run, (json.load(open(oracles)) if os.path.exists(oracles) else None)


def pct(values, q):
    """Linear-interpolated percentile q of values (0 < q < 100)."""
    s = sorted(values)
    if not s:
        return 0.0
    k = (len(s) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


WRITES = ("insert", "import")


def end_to_end(run, window, bad):
    """The end-to-end metrics of one window, plus what the record reports
    beside them (sample counts, failure share, read/write split)."""
    ops = window["ops"]
    ok = [o for o in ops if o["error"] is None and o["id"] not in bad]
    lat = [o["lat_ms"] for o in ok]
    win = window["window"]
    e2e = {
        "setup_s": statistics.median(s["setup_s"] for s in run["setups"]),
        "ops_per_s": len(ok) / win["window_s"],
        "latency_p50_ms": pct(lat, 50), "latency_p90_ms": pct(lat, 90),
    }
    reads = [o["lat_ms"] for o in ok if o["kind"] not in WRITES]
    writes = [o["lat_ms"] for o in ok if o["kind"] in WRITES]
    extra = {
        "n": len(lat), "beyond_p90": sum(1 for x in lat if x > e2e["latency_p90_ms"]),
        "failed_frac": (len(ops) - len(ok)) / max(1, len(ops)),
        "window_s": win["window_s"], "cycles": len({o["cycle"] for o in ops}),
        "setup_first_s": run["setups"][0]["setup_s"], "prime_s": run["prime_s"],
        "peak_rss_mb": run["peak_rss_mb"],
        "read_p50_ms": pct(reads, 50), "read_p90_ms": pct(reads, 90), "n_reads": len(reads),
        "write_p50_ms": pct(writes, 50), "write_p90_ms": pct(writes, 90), "n_writes": len(writes),
    }
    return e2e, extra


# per-layer metric -> per-op key summed over the traced window
LAYER_SUMS = {
    "parser.calls": "parser.calls", "parser.busy_ms": "span.parser",
    "planner.calls": "planner.calls", "planner.busy_ms": "span.planner",
    "optimizer.reorders": "optimizer.reorders",
    "optimizer.join_reorder_ms": "optimizer.join_reorder_ms",
    "optimizer.reorder_effective": "optimizer.reorder_effective",
    "catalyst.analysis_ms": "catalyst.analysis_ms",
    "catalyst.optimization_ms": "catalyst.optimization_ms",
    "catalyst.planning_ms": "catalyst.planning_ms",
    "operators.build_ms": "span.operators.build", "operators.eager_jobs": "operators.eager_jobs",
    "operators.eager_task_ms": "operators.eager_task_ms",
    "operators.pins_left": "operators.pins_left",
    "tasks.wall_ms": "tasks.wall_ms", "tasks.jobs": "tasks.jobs", "tasks.stages": "tasks.stages",
    "tasks.count": "tasks.count", "tasks.run_ms": "tasks.run_ms", "tasks.cpu_ms": "tasks.cpu_ms",
    "tasks.gc_ms": "tasks.gc_ms", "tasks.shuffle_write_mb": "tasks.shuffle_write_mb",
    "tasks.shuffle_read_mb": "tasks.shuffle_read_mb", "tasks.spill_mb": "tasks.spill_mb",
    "tasks.input_mb": "tasks.input_mb",
    "session.insert_ms": "span.session.insert", "session.import_ms": "span.session.import",
    "exec.render_ms": "span.exec.render", "trace.unattributed_ms": "unattributed_ms",
}
PLAN_KEYS = ["nodes", "scans", "exchanges", "reused_exchanges", "sorts", "smj", "shj", "bhj",
             "windows", "generates", "in_memory_scans"]


def per_layer(run, window, cores):
    ops = window["ops"]
    L = [o["layers"] for o in ops]

    def col(key, kinds=None):
        return [x.get(key, 0.0) for o, x in zip(ops, L) if kinds is None or o["kind"] in kinds]

    m = {name: sum(col(key)) for name, key in LAYER_SUMS.items()}
    for k in PLAN_KEYS:
        m[f"plan.{k}"] = sum(col(f"plan.{k}"))
    m["parser.p50_us"] = pct([x["span.parser"] for x in L if "span.parser" in x], 50) * 1000
    m["planner.p50_ms"] = pct([x["span.planner"] for x in L if "span.planner" in x], 50)
    m["planner.failed"] = sum(1 for o in ops if o["error"] and o["failed_in"] == "planner")
    m["operators.pinned_mb"] = max(col("operators.pinned_mb") or [0.0])
    m["tasks.gc_frac"] = m["tasks.gc_ms"] / m["tasks.run_ms"] if m["tasks.run_ms"] else 0.0
    m["tasks.core_util"] = (m["tasks.run_ms"] / (m["tasks.wall_ms"] * cores)
                            if m["tasks.wall_ms"] else 0.0)
    m["tasks.peak_exec_mem_mb"] = max(col("tasks.peak_exec_mem_mb") or [0.0])
    m["session.write_jobs"] = sum(col("tasks.jobs", WRITES))
    m["session.table_plan_nodes"] = max(col("session.table_plan_nodes", WRITES) or [0.0])
    m["storage.routed_reads"] = float(window["storage.routed_reads"])
    m["storage.rebuild_read_ms"] = pct([o["lat_ms"] for o in ops if o["kind"] == "point_rebuild"], 50)
    m["storage.warm_read_ms"] = pct([o["lat_ms"] for o in ops if o["kind"] == "point_warm"], 50)
    for k in ("engine.session_start_ms", "engine.register_ms"):
        m[k] = statistics.median(s[k] for s in run["setups"])
    for k in ("jvm.gc_ms", "jvm.gc_frac", "jvm.heap_peak_mb"):
        m[k] = window["window"][k]
    m["jvm.peak_rss_mb"] = run["peak_rss_mb"]
    return m


def plan_shapes(ops):
    """Per-op plan-shape counts and the other load-independent numbers."""
    return [{"id": o["id"], "kind": o["kind"], "lat_ms": round(o["lat_ms"], 3),
             **{k: int(o["layers"].get(f"plan.{k}", 0)) for k in PLAN_KEYS},
             "reorders": int(o["layers"].get("optimizer.reorders", 0)),
             "pins_left": int(o["layers"].get("operators.pins_left", 0)),
             "table_plan_nodes": int(o["layers"].get("session.table_plan_nodes", 0)),
             "unattributed_ms": round(o["layers"].get("unattributed_ms", 0.0), 3)}
            for o in ops]


def coverage_violations(ops):
    """Ops whose spans leave clearly too much of their wall time
    unattributed, and the window's overall covered share."""
    done = [o["layers"] for o in ops if o["error"] is None and "op_wall_ms" in o["layers"]]
    wall = sum(x["op_wall_ms"] for x in done)
    covered = 1 - sum(x["unattributed_ms"] for x in done) / wall if wall else 1.0
    share, floor_ms = OP_UNATTRIBUTED
    bad = [(o["id"], o["kind"], o["layers"]["op_wall_ms"], o["layers"]["unattributed_ms"])
           for o in ops if o["error"] is None and "op_wall_ms" in o["layers"]
           and o["layers"]["unattributed_ms"] > max(floor_ms, share * o["layers"]["op_wall_ms"])]
    return bad, covered


def unit(name):
    if name == "ops_per_s":
        return "1/s"
    for suffix, u in (("_ms", "ms"), ("_us", "us"), ("_mb", "MB"), ("_frac", "ratio"),
                      ("_util", "ratio"), ("_pct", "%"), ("_s", "s")):
        if name.endswith(suffix):
            return u
    return "count"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()

    cp = build()
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(BENCH, ".work", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t_gen = time.time()
    script = inputs.generate(a.workload, a.seed, work, WORKLOADS[a.workload])
    gen_s = time.time() - t_gen

    left = RUN_LIMIT_S - (time.time() - t_start)
    run, oracles = jvm(cp, a.workload, os.path.join(work, "script.json"), work, a.seconds,
                       a.trace, cores, left)
    windows = run["windows"]
    all_ops = [o for w in windows for o in w["ops"]]
    if windows[0]["window"]["window_s"] < a.seconds:
        fail(f"op script ran out after {windows[0]['window']['window_s']:.1f} s")
    if a.workload == "sql_interactive":
        bad = checks.check_sql(all_ops, script)
    elif a.workload == "ingest_lookup":
        bad = checks.check_ingest(all_ops, script)
    else:
        bad = checks.check_curation(all_ops, script, oracles)
    errors = [o for o in all_ops if o["error"]]
    for o in errors[:5]:
        print(f"perfbench: op {o['id']} ({o['kind']}) failed: {o['error']}", file=sys.stderr)
    for i, why in list(bad.items())[:5]:
        print(f"perfbench: op {i} wrong result: {why}", file=sys.stderr)

    e2e, extra = end_to_end(run, windows[0], bad)
    win = windows[0]["window"]
    contention = {k: win[k] for k in ("external_cpu_share", "steal_pct", "load_at_start",
                                      "cores", "heap_max_mb", "contended")}
    if win["contended"]:
        print(f"perfbench: CONTENDED window: external CPU {win['external_cpu_share']:.1%}, "
              f"steal {win['steal_pct']:.1f}%, load at start {win['load_at_start']:.2f}; "
              "the record flags its numbers", file=sys.stderr)
    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
              "heap": HEAP, "input_bytes": script["input_bytes"], "input_gen_s": gen_s,
              "corpus_rows": script.get("corpus_rows"),
              "storage_capacity_mb": run["storage_capacity_mb"], "contention": contention,
              "end_to_end": e2e, "reported": extra, "setups": run["setups"]}
    if a.workload == "curation_batch":
        record["peak_storage_used_mb"] = max(o["layers"].get("storage_used_mb", 0.0)
                                             for o in all_ops)
    metrics = e2e
    if a.trace:
        traced = windows[1]
        t_e2e, _ = end_to_end(run, traced, bad)
        around, _ = end_to_end(run, {"ops": windows[0]["ops"] + windows[2]["ops"],
                                     "window": windows[0]["window"]}, bad)
        metrics = per_layer(run, traced, cores)
        metrics["trace.overhead_pct"] = 100 * (t_e2e["latency_p50_ms"] / around["latency_p50_ms"] - 1)
        record["per_layer"] = metrics
        record["traced_window"] = {"end_to_end": t_e2e, "contended": traced["window"]["contended"]}
        record["plan_shapes"] = plan_shapes(traced["ops"])
        with open(os.path.join(work, "spans.json"), "w") as f:
            json.dump(traced["spans"], f)
        viol, covered = coverage_violations(traced["ops"])
        record["span_coverage"] = covered
        for i, kind, wall, un in viol[:10]:
            print(f"perfbench: op {i} ({kind}): spans leave {un:.1f} of {wall:.1f} ms "
                  "unattributed", file=sys.stderr)
        if viol or covered < COVERAGE:
            fail(f"spans cover {covered:.1%} of op time (need {COVERAGE:.0%}); "
                 f"{len(viol)} ops over the per-op limit", 3)
    print(json.dumps(record))
    failed = len(errors) + len(bad)
    print(json.dumps({"correct": failed == 0, "attempted": len(all_ops), "failed": failed,
                      "metrics": {k: {"value": v, "unit": unit(k)} for k, v in metrics.items()}}))


if __name__ == "__main__":
    main()
