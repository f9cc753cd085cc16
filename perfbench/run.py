#!/usr/bin/env python3
"""Outside-in benchmark of the graft engine.

    python3 perfbench/run.py --workload mapreduce_text --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. It builds the engine and the harness
from source (once per source state), generates the workload's inputs from
the seed (cached per seed), runs the harness in one JVM on local[4], checks
the results against DuckDB, and prints one JSON object as the last line of
stdout: end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
Everything it writes stays under `.perfbench/` in the checkout.
See perfbench/README.md for workloads, metrics and the layer map.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("mapreduce_text", "graph_iterative", "table_rw")
CORES = 4
HEAP = "2g"  # fixed (-Xms = -Xmx), so peak RSS compares across runs
# The parallel collector: with G1 the pass times of one run drifted by up
# to 40 % (4-core host); with it they settle within about 7 % after two passes.
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 850
INPUT_CACHE_KEEP = 6  # cached input sets kept per workload

# Spark on JDK 17 outside spark-submit needs these (the engine's build
# passes the same list to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

END_TO_END = {"setup_s": "s", "wall_s": "s", "peak_rss_mb": "MB"}
PER_LAYER = {
    "operators.build_s": "s", "operators.build_self_s": "s", "operators.build_jobs": "count",
    "operators.build_task_s": "s", "operators.build_idle_core_s": "s",
    "materialize.rdds": "count", "materialize.mb": "MB",
    "plans.analysis_s": "s", "plans.optimization_s": "s", "plans.planning_s": "s",
    "exec.action_s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.single_task_stages": "count",
    "exec.tasks": "count", "exec.task_run_s": "s", "exec.task_cpu_s": "s", "exec.idle_core_s": "s",
    "exec.gc_s": "s", "exec.shuffle_write_mb": "MB", "exec.shuffle_records": "count", "exec.spill_mb": "MB",
    "exec.peak_task_mem_mb": "MB",
    "sources.read_s": "s", "sources.scan_s": "s", "sources.files_read": "count", "sources.files_pruned": "count",
    "sources.prune_ratio": "ratio", "sources.commit_s": "s", "sources.files_written": "count",
    "sources.write_mb": "MB", "sources.log_versions": "count", "sources.stored_mb": "MB",
    "sources.read_op_p50_s": "s", "sources.write_op_p50_s": "s",
    "GraftSession.start_s": "s",
    "trace.overhead_frac": "ratio", "trace.unaccounted_s": "s", "trace.unattributed_jobs": "count",
}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"error: {msg}")
    sys.exit(code)


# ------------------------------------------------------------------- building
def _source_stamp():
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
            os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else [
            os.path.join(d, f) for d, dirs, files in os.walk(top)
            for f in files if "target" not in os.path.relpath(d, top).split(os.sep)]
        for p in sorted(paths):
            if p.endswith((".scala", ".sbt", ".properties", ".java")):
                with open(p, "rb") as f:
                    h.update(os.path.relpath(p, ROOT).encode() + b"\0" + f.read())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt when the sources changed; return the classpath."""
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp = _source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    log("building engine and harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.repository.config="
                   + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx2g")
    t = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "compile", "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL, text=True, timeout=BUILD_LIMIT_S)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("sbt build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t:.1f} s")
    return lines[-1].strip()


# ------------------------------------------------------------------- running
def inputs(workload, seed):
    root = os.path.join(WORK, "inputs")
    os.makedirs(root, exist_ok=True)
    d, m = gen.ensure_inputs(workload, seed, root)
    # bound the cache: drop the least recently used input sets of this workload
    mine = sorted((e for e in os.scandir(root) if e.is_dir() and e.name.startswith(workload + "-s")),
                  key=lambda e: e.stat().st_mtime)
    for e in mine[:-INPUT_CACHE_KEEP]:
        if e.path != d:
            shutil.rmtree(e.path, ignore_errors=True)
            if os.path.exists(e.path + ".expected.json"):
                os.remove(e.path + ".expected.json")
    os.utime(d)
    return d, m


def run_harness(classpath, workload, input_dir, seconds, trace, deadline):
    run_dir = os.path.join(WORK, f"run-{workload}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    out = run_dir + ".json"
    if os.path.exists(out):
        os.remove(out)
    cmd = ["java"] + [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS] + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={run_dir}/tmp",
        "-cp", classpath, "perfbench.Harness",
        "--workload", workload, "--input", input_dir, "--work", run_dir,
        "--seconds", str(seconds), "--trace", "1" if trace else "0", "--out", out]
    with open(run_dir + ".log", "w") as logf:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=logf, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail(f"harness exceeded the run time limit; log: {run_dir}.log")
        finally:
            # also on SIGTERM (see main): never leave the JVM behind
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0 or not os.path.exists(out):
        with open(run_dir + ".log") as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        fail(f"harness exited with {rc}; log: {run_dir}.log")
    with open(out) as f:
        return json.load(f), run_dir


# -------------------------------------------------------------------- metrics
def percentile(values, q):
    """Linear-interpolated percentile, q in [0, 100]."""
    v = sorted(values)
    if not v:
        return 0.0
    k = (len(v) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def pass_wall(passes):
    """One pass's time over `passes`: the sum over the operations of each
    operation's median time. A host stall or a slow plan in one pass moves
    one sample of one operation, not the whole pass."""
    return sum(statistics.median(p["ops"][i]["wall_s"] for p in passes) for i in range(len(passes[0]["ops"])))


def end_to_end(result):
    return {
        "setup_s": result["setup_s"],
        "wall_s": pass_wall([p for p in result["passes"] if not p["traced"]]),
        "peak_rss_mb": result["peak_rss_mb"],
    }


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    ivs = sorted((max(c["start_s"], span["start_s"]), min(c["end_s"], span["end_s"])) for c in children)
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (span["end_s"] - span["start_s"]) - covered


def layer_rollup(spans, pass_no, stored_bytes, cores=CORES):
    """Per-layer metrics of one traced pass, from its spans."""
    sp = [s for s in spans if s["pass"] == pass_no]
    ops = [s for s in sp if s["name"].startswith("op:")]
    op_ids = {s["id"] for s in ops}
    phases = [s for s in sp if s["parent"] in op_ids and s["name"] != "job"]
    by_id = {s["id"]: s for s in phases}
    jobs = [s for s in sp if s["name"] == "job"]
    kids = {}
    for j in jobs:
        kids.setdefault(j["parent"], []).append(j)

    def dur(s):
        return s["end_s"] - s["start_s"]

    def named(n):
        return [p for p in phases if p["name"] == n]

    def jsum(js, k):
        return sum(j["attrs"][k] for j in js)

    build = named("operators.build")
    build_jobs = [j for p in build for j in kids.get(p["id"], [])]
    op_wall = sum(dur(o) for o in ops)
    task_run = jsum(jobs, "task_run_s")
    scoped = [o["attrs"] for o in ops if "files_in_scope" in o["attrs"]]
    scope = sum(a["files_in_scope"] for a in scoped)
    pruned = sum(max(0, a["files_in_scope"] - a["files_read"]) for a in scoped)
    writes = [dur(o) for o in ops if o["attrs"]["kind"] == "write"]
    reads = [dur(o) for o in ops if o["attrs"]["kind"] in ("read", "count")]
    attributed = sum(1 for j in jobs if j["parent"] in by_id)

    def osum(k):
        return sum(o["attrs"].get(k, 0) for o in ops)

    m = {
        "operators.build_s": sum(dur(p) for p in build),
        "operators.build_self_s": sum(self_time(p, kids.get(p["id"], [])) for p in build),
        "operators.build_jobs": len(build_jobs),
        "operators.build_task_s": jsum(build_jobs, "task_run_s"),
        "operators.build_idle_core_s": cores * sum(dur(p) for p in build) - jsum(build_jobs, "task_run_s"),
        "materialize.rdds": osum("materialize_rdds"),
        "materialize.mb": osum("materialize_bytes") / 2 ** 20,
        "plans.analysis_s": osum("analysis_s"),
        "plans.optimization_s": osum("optimization_s"),
        "plans.planning_s": osum("planning_s"),
        "exec.action_s": sum(dur(p) for p in named("exec.action")),
        "exec.jobs": len(jobs),
        "exec.stages": jsum(jobs, "stages"),
        "exec.single_task_stages": jsum(jobs, "single_task_stages"),
        "exec.tasks": jsum(jobs, "tasks"),
        "exec.task_run_s": task_run,
        "exec.task_cpu_s": jsum(jobs, "task_cpu_s"),
        "exec.idle_core_s": cores * op_wall - task_run,
        "exec.gc_s": jsum(jobs, "gc_s"),
        "exec.shuffle_write_mb": jsum(jobs, "shuffle_write_bytes") / 2 ** 20,
        "exec.shuffle_records": jsum(jobs, "shuffle_records"),
        "exec.spill_mb": jsum(jobs, "spill_bytes") / 2 ** 20,
        "exec.peak_task_mem_mb": max([j["attrs"]["peak_task_mem_bytes"] for j in jobs] + [0]) / 2 ** 20,
        "sources.read_s": sum(dur(p) for p in named("sources.read")),
        "sources.scan_s": jsum(jobs, "scan_s"),
        "sources.files_read": osum("files_read"),
        "sources.files_pruned": pruned,
        "sources.prune_ratio": pruned / scope if scope else 0.0,
        "sources.commit_s": sum(dur(p) for p in named("sources.commit")),
        "sources.files_written": osum("files_written"),
        "sources.write_mb": osum("write_bytes") / 2 ** 20,
        "sources.log_versions": osum("log_versions"),
        "sources.stored_mb": stored_bytes / 2 ** 20,
        "sources.read_op_p50_s": percentile(reads, 50),
        "sources.write_op_p50_s": percentile(writes, 50),
        "trace.unaccounted_s": sum(self_time(o, [p for p in phases if p["parent"] == o["id"]]) for o in ops),
        "trace.unattributed_jobs": len(jobs) - attributed,
    }
    # the listener's own job count must match the jobs placed under spans
    m["trace.listener_jobs"] = osum("jobs_started")
    return m


def per_layer(result, spans):
    traced = [p for p in result["passes"] if p["traced"]]
    untraced = [p for p in result["passes"] if not p["traced"]]
    rolls = [layer_rollup(spans, p["pass"], p["stored_bytes"]) for p in traced]
    m = {k: statistics.median(r[k] for r in rolls) for k in rolls[0]}
    m["GraftSession.start_s"] = result["session_start_s"]
    # each traced pass against the untraced pass right after it: pass times
    # still fall slowly as the JIT warms, so an earlier untraced pass would
    # make tracing look cheaper than free
    nxt = {p["pass"]: p["wall_s"] for p in untraced}
    m["trace.overhead_frac"] = statistics.median(
        p["wall_s"] / nxt[p["pass"] + 1] - 1.0 for p in traced if p["pass"] + 1 in nxt)
    return m, rolls


def load_spans(run_dir):
    with open(os.path.join(run_dir, "spans.jsonl")) as f:
        return [json.loads(l) for l in f]


# ----------------------------------------------------------------------- main
def main(argv):
    ap = argparse.ArgumentParser(description="graft engine benchmark (see perfbench/README.md)")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    signal.signal(signal.SIGTERM, lambda signum, _: sys.exit(128 + signum))
    t_start = time.time()
    deadline = t_start + RUN_LIMIT_S

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"{ROOT} is not a source checkout of the engine (no build.sbt / src/main/scala/graft)")
    os.makedirs(WORK, exist_ok=True)
    classpath = build()
    deadline = max(deadline, time.time() + 120)  # the first run of a checkout also builds

    input_dir, manifest = inputs(a.workload, a.seed)
    log(f"inputs {input_dir} content_sha256={manifest['content_sha256'][:16]}")
    result, run_dir = run_harness(classpath, a.workload, input_dir, a.seconds, a.trace == 1, deadline)

    timed = result["passes"]
    log(f"{len(timed)} timed passes; the host took {sum(p['steal_s'] for p in timed):.1f} s of steal time "
        f"during them, the harness used {sum(p['cpu_s'] for p in timed):.1f} s of CPU")
    bad = oracle.check(a.workload, input_dir, result, os.path.join(run_dir, "outputs"))
    passes = [result["warmup_pass"]] + result["passes"]
    attempted = len(result["warmup"]) + sum(len(p["ops"]) for p in passes)
    failed = len(bad)
    for p in passes:
        for o in p["ops"]:
            if "error" in o:
                failed += 1
                log(f"FAILED pass {p['pass']} op {o['id']} {o['name']}: {o['error']}")
    for name, err in sorted(bad.items()):
        log(f"FAILED {name}: {err}")

    if a.trace:
        spans = load_spans(run_dir)
        values, _ = per_layer(result, spans)
        units = PER_LAYER
        log(f"spans: {os.path.join(run_dir, 'spans.jsonl')}")
    else:
        values, units = end_to_end(result), END_TO_END
    metrics = {k: {"value": float(values[k]), "unit": u} for k, u in units.items()}
    for k, v in metrics.items():
        log(f"{a.workload} {k} = {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main(sys.argv[1:])
