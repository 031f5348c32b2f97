#!/usr/bin/env python3
"""graft's benchmark: one command per workload and seed.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the harness together
with graft's sources (perfbench/build.sbt); later runs reuse the classes
until a source changes. Each run generates its inputs from the seed under
perfbench/.runs/<run>/data and deletes them at exit. It runs fresh JVMs on
the compiled classes with their own java.io.tmpdir (where graft keeps its
Caches) and spark.local.dir; the session comes from GraftSession.builder.

With --trace 0 the last stdout line holds every end-to-end metric; with
--trace 1 it holds the per-layer metrics of a traced run. Outputs are
checked in both. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import workloads  # noqa: E402

CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
HEAP = "4g"
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
         "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
         "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def spark_home():
    """The Spark installation graft is built and run against: SPARK_HOME, or
    the one whose spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation found (set SPARK_HOME)")
    return home


def source_stamp():
    """Digest of every file the harness build compiles."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{os.path.relpath(p, ROOT)}\0{st.st_size}\0{st.st_mtime_ns}\0".encode())
    return h.hexdigest()


def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("graft sources not found next to perfbench/ (run from a checkout root)")
    stamp_file = os.path.join(HERE, "target", "perfbench.stamp")
    stamp = source_stamp()
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    log("building harness and graft sources (sbt compile)")
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    try:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "Compile/copyResources"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, timeout=840,
            text=True)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}", 3)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed", 3)
    os.makedirs(os.path.dirname(stamp_file), exist_ok=True)
    with open(stamp_file, "w") as f:
        f.write(stamp)


def contaminated():
    """Other Spark or sbt JVMs on the box skew timings (a concurrent sbt
    test run once inflated a bench by 27%); list them."""
    mine = {os.getpid(), os.getppid()}
    found = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) in mine:
            continue
        try:
            cmd = open(f"/proc/{pid}/cmdline", "rb").read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        if "java" in cmd and ("spark" in cmd.lower() or "sbt" in cmd.lower()):
            found.append(f"{pid}: {cmd[:120]}")
    return found


def verify_digests(inputs):
    """Input files against the generator's manifest digests, before any
    JVM starts; the harness then checks their row counts as part of set-up."""
    for inp in inputs:
        for path, want in zip(inp["paths"], inp["sha256"]):
            got = gen.sha256_file(path)
            if got != want:
                fail(f"input {path} digest {got} != manifest {want}")


def run_jvm(config, work, deadline):
    """One harness JVM in `work`; returns its result.json."""
    cfg_path = os.path.join(work, "config.json")
    with open(cfg_path, "w") as f:
        json.dump(config, f)
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData"]
    for p in OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/local",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{CLASSES}:{spark_home()}/jars/*", "perfbench.Harness", cfg_path]
    os.makedirs(f"{work}/tmp")
    os.makedirs(f"{work}/local")
    logf = open(os.path.join(work, "jvm.log"), "w")
    launch_us = time.time_ns() // 1000
    proc = subprocess.Popen(cmd + [str(launch_us)], cwd=work, stdout=logf, stderr=subprocess.STDOUT)
    try:
        rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        rc = "timeout"
    logf.close()
    res = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(res):
        shutil.copy(os.path.join(work, "jvm.log"), os.path.join(HERE, ".runs", "failed-jvm.log"))
        tail = open(os.path.join(work, "jvm.log"), errors="replace").read()[-3000:]
        sys.stderr.write(tail)
        fail(f"harness JVM failed (exit {rc})", 4)
    return json.load(open(res))


def measured(res):
    """Warm passes after the settle passes: the ones the metrics use."""
    return [p for p in res["passes"] if p["pass"] > workloads.SETTLE_PASSES]


def setup_median(res, key):
    return statistics.median(s[key] for s in res["setups"])


def end_to_end(res):
    warm = measured(res)
    nums = {p["pass"] for p in warm}
    warm_ops = [o["secs"] for o in res["ops"] if o["pass"] in nums]
    cold = [p["secs"] for p in res["passes"] if p["pass"] == 0][0]
    log(f"{len(warm)} measured warm passes, {len(warm_ops)} warm op samples, "
        f"peak RSS {res['peak_rss_mb']:.0f} MB under a {res['heap_max_mb']:.0f} MB heap cap")
    return {
        "setup_s": (setup_median(res, "setup_s"), "s"),
        "cold_pass_s": (cold, "s"),
        "warm_pass_s": (statistics.median(p["secs"] for p in warm), "s"),
        "op_p50_s": (statistics.median(warm_ops), "s"),
        "op_p90_s": (statistics.quantiles(warm_ops, n=10, method="inclusive")[-1], "s"),
    }


# Per-layer counters summed over a pass, reported as the median over the
# measured traced passes.
PASS_COUNTERS = [
    ("operators.build_s", "s"), ("operators.build_jobs", "count"),
    ("plans.analysis_ms", "ms"), ("plans.optimization_ms", "ms"), ("plans.planning_ms", "ms"),
    ("plans.exchanges", "count"),
    ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.driver_gap_s", "s"), ("exec.task_run_s", "s"), ("exec.task_cpu_s", "s"),
    ("exec.gc_s", "s"), ("exec.sched_delay_s", "s"), ("exec.failed_tasks", "count"),
    ("scan.input_bytes", "bytes"), ("scan.input_records", "count"), ("scan.stage_task_s", "s"),
    ("shuffle.write_bytes", "bytes"), ("shuffle.write_records", "count"),
    ("shuffle.read_bytes", "bytes"), ("shuffle.fetch_wait_s", "s"),
    ("shuffle.spill_mem_bytes", "bytes"), ("shuffle.spill_disk_bytes", "bytes"),
    ("materialize.rdds", "count"), ("materialize.bytes", "bytes"),
    ("etl.spec_s", "s"), ("etl.keymap_s", "s"), ("etl.keymap_jobs", "count"),
    ("etl.novel_keys", "count"), ("etl.upsert_s", "s"), ("etl.sink_s", "s"),
    ("etl.commit_s", "s"),
    ("streaming.batch_s", "s"), ("streaming.trigger_ms", "ms"),
    ("streaming.add_batch_ms", "ms"), ("streaming.input_rows", "count"),
]
# Counters of the cold pass.
COLD_COUNTERS = [("codegen.compiles", "count"), ("codegen.compile_ms", "ms"),
                 ("codegen.classes", "count"), ("caches.dirs_created", "count"),
                 ("caches.bytes_written", "bytes")]
# State at the end of a pass: the ETL table and dedup index.
LAST_OP_COUNTERS = [("etl.out_bytes", "bytes"), ("etl.out_files", "count"),
                    ("streaming.index_bytes", "bytes")]


def per_layer(res, checks):
    """Per-layer metrics of a traced run."""
    ops = res["ops"]
    warm = measured(res)
    traced = [p["pass"] for p in warm if p["traced"]]
    untraced = [p["secs"] for p in warm if not p["traced"]]

    def per_pass(key, agg=sum, passes=None):
        vals = [agg([o["counters"].get(key, 0.0) for o in ops if o["pass"] == p] or [0.0])
                for p in (traced if passes is None else passes)]
        return statistics.median(vals) if vals else 0.0

    out = {f"session.{k}": (setup_median(res, k), "s")
           for k in ("jvm_start_s", "build_s", "verify_s")}
    for k, unit in PASS_COUNTERS:
        out[k] = (per_pass(k), unit)
    out["exec.peak_mem_bytes"] = (per_pass("exec.peak_mem_bytes", agg=max), "bytes")
    out["caches.warm_bytes_written"] = (per_pass("caches.bytes_written"), "bytes")
    den = per_pass("exec.task_skew_den")
    out["exec.task_skew"] = (per_pass("exec.task_skew_num") / den if den else 1.0, "ratio")
    wall = per_pass("exec.wall_core_s")
    out["exec.core_busy_frac"] = (per_pass("exec.task_run_s") / wall if wall else 0.0, "frac")
    for k, unit in LAST_OP_COUNTERS:
        out[k] = (per_pass(k, agg=lambda v: v[-1]), unit)
    out["etl.out_bytes_per_in_byte"] = (checks.get("out_bytes_per_in_byte", 0.0), "ratio")
    for k, unit in COLD_COUNTERS:
        out[k] = (per_pass(k, passes=[0]), unit)
    recompiles = per_pass("codegen.compiles", passes=[p["pass"] for p in warm])
    cold_compiles = out["codegen.compiles"][0]
    out["codegen.warm_recompile_frac"] = (recompiles / cold_compiles if cold_compiles else 0.0, "frac")
    out["jvm.peak_rss_mb"] = (res["peak_rss_mb"], "MB")
    by_pass = res["self_s_by_pass"]
    selfs = {layer: statistics.median(by_pass.get(str(p), {}).get(layer, 0.0) for p in traced)
             if traced else 0.0 for layer in workloads.LAYERS}
    total = sum(selfs.values()) or 1.0
    for layer in workloads.LAYERS:
        out[f"self.{layer}_s"] = (selfs[layer], "s")
        out[f"share.{layer}"] = (selfs[layer] / total, "frac")
    t_warm = [p["secs"] for p in warm if p["traced"]]
    tw = statistics.median(t_warm) if t_warm else 0.0
    uw = statistics.median(untraced) if untraced else 0.0
    out["trace.traced_warm_pass_s"] = (tw, "s")
    out["trace.untraced_warm_pass_s"] = (uw, "s")
    out["trace.overhead_s"] = (tw - uw, "s")
    return out


def execute(name, seed, seconds, trace):
    """Prepare inputs, run the harness JVM and check its outputs. Returns the
    raw result and the check summary."""
    wl = workloads.WORKLOADS[name]
    build()
    others = contaminated()
    if others:
        log("CONTAMINATED: other Spark/sbt JVMs are running:\n  " + "\n  ".join(others))
    runs = os.path.join(HERE, ".runs")
    work = os.path.join(runs, f"{name}-s{seed}-t{trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        inputs = workloads.prepare(wl, seed, work, trace)
        verify_digests(inputs["config"]["inputs"])
        config = dict(inputs["config"], work=work, cores=os.cpu_count() or 4,
                      seconds=seconds, trace=bool(trace))
        # Every JVM of the run must end by this time, or the run fails.
        deadline = time.monotonic() + 90 + 3 * seconds
        # Set-up only, in fresh JVMs; the last set-up is the workload JVM's own.
        setups = []
        for k in range(workloads.SETUPS - 1):
            sub = os.path.join(work, f"setup{k}")
            os.makedirs(sub)
            setups.append(run_jvm(dict(config, work=sub, setup_only=True), sub, deadline)["setup"])
        res = run_jvm(config, work, deadline)
        res["setups"] = setups + [res["setup"]]
        checks = workloads.check(name, res, inputs, work)
        last = os.path.join(runs, f"last-{name}-t{trace}")
        shutil.rmtree(last, ignore_errors=True)
        os.makedirs(last)
        for f in ("result.json", "spans.json", "jvm.log"):
            if os.path.exists(os.path.join(work, f)):
                shutil.copy(os.path.join(work, f), last)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return res, checks


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if args.workload not in workloads.WORKLOADS:
        fail(f"unknown workload {args.workload}; known: {', '.join(workloads.WORKLOADS)}")
    res, checks = execute(args.workload, args.seed, args.seconds, args.trace)
    for o in res["ops"]:
        if not o["ok"]:
            log(f"op {o['name']} (pass {o['pass']}) failed: {o['err']}")
    attempted = len(res["ops"]) + checks["attempted"]
    failed = sum(1 for o in res["ops"] if not o["ok"]) + checks["failed"]
    metrics = per_layer(res, checks) if args.trace else end_to_end(res)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
