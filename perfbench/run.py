#!/usr/bin/env python3
"""Benchmark of the graft engine, run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (one client, one JVM, local[nproc / 2] (see slots()), closed loop):
  pipeline   round 0 is the reference pipeline once, cold: arrival files
             staged as one AvailableNow catch-up, cleanse and quarantine
             of the staged feed, the warehouse build, q01-q12 and the three
             matviews; later rounds run the 24 analytics.Queries.all
             entries in seeded order over that warehouse
  curation   job- and compile-heavy LLM-data registry entries in seeded
             order; Memos.newGeneration() before each round, round 0 cold

Gated round times are CPU seconds of the program's work (metrics.END_TO_END);
the wall clock is printed beside them.

The program is compiled from the checkout's sources into .bench_build/ on
first use (scalac from the Spark distribution, no build tool). Inputs are
generated from the seed under .bench_build/perfbench/runs/, checked after
the timed phase, and deleted. The last line of stdout is the JSON result;
a run-metadata sidecar is written next to the runs.
"""
import argparse
import hashlib
import json
import math
import os
import random
import shutil
import signal
import socket
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import gate  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
def spark_jars():
    """The Spark distribution's jar directory: $SPARK_JARS_DIR, else
    $SPARK_HOME/jars."""
    if os.environ.get("SPARK_JARS_DIR"):
        return os.environ["SPARK_JARS_DIR"]
    return os.path.join(os.environ["SPARK_HOME"], "jars") if os.environ.get("SPARK_HOME") else ""


SPARK_JARS = spark_jars()
JVM_TIMEOUT_S = 165
XMX = "2g"

# The inputs have the size of the sf0.01 fixture (gen.ROWS), not of the
# sf0.1 bench scale. At sf0.1 on 4 cores a pipeline run takes 77-92 s (cold
# pass 44-51 s, one warm round 14-20 s) and a traced one 138 s; the first
# curation run takes 221 s, 145 s of it in the DuckDB oracles, and the
# graph_modularity oracle fills 20 GB of temporary disk. 48 runs of the two
# workloads would not fit in an hour.
#
# Workload -> the fewest timed rounds of an untraced run (round 0 is the
# cold one); round_cpu_p50_s is the median of the others. Every round is
# cheaper than the one before (the JIT is still catching up), so the
# rounds a run times must not depend on how fast the host is: these counts
# take 17-70 s on 4 shared CPUs, longer than the benchmark's 10 s, which
# then never adds a round.
WORKLOADS = {"pipeline": 3, "curation": 4}
# setup_s is the median of SETUP_REPS setups, each in a fresh session. An
# untraced run times rounds until --seconds have passed and the workload's
# fewest rounds are done. A traced run times exactly TRACED_ROUNDS, traced
# and untraced in turn from round 0, so the tracing overhead is measured
# inside the run.
SETUP_REPS = 5
TRACED_ROUNDS = 4
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/jdk.internal.ref", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    out = []
    for r in roots:
        for d, _, fs in os.walk(r):
            out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def build():
    """Compile the program and the harness; reuse a build of the same sources."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        die("no program sources under src/main/scala; run from the repository root")
    if not os.path.isdir(SPARK_JARS):
        die("Spark jars not found: set SPARK_HOME or SPARK_JARS_DIR")
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(out, ".ok")):
        return out
    os.makedirs(BUILD, exist_ok=True)
    for d in os.listdir(BUILD):
        if d.startswith("classes-"):
            shutil.rmtree(os.path.join(BUILD, d), ignore_errors=True)
    tmp = out + ".tmp"
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", f"{SPARK_JARS}/*",
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(p.stdout[-4000:])
        die("compilation failed")
    open(os.path.join(tmp, ".ok"), "w").close()
    os.rename(tmp, out)
    return out


def dir_bytes(path, suffix=""):
    """Bytes and number of the regular files under `path` whose names end
    with `suffix`; links are not followed."""
    total = files = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            p = os.path.join(d, f)
            if f.endswith(suffix) and not os.path.islink(p):
                total += os.path.getsize(p)
                files += 1
    return total, files


def git_sha():
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return "unknown"
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except Exception:  # noqa: BLE001 - git may be missing
        return "unknown"


def cpu_times():
    """(steal, total) jiffies of all CPUs: steal is time the host gave this
    machine's CPUs to someone else, the main source of run-to-run noise on a
    shared host."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f[:8])


def slots(nproc):
    """Task slots of the local master: half the machine's CPUs. On a shared
    host a run that keeps every CPU busy (task threads, the driver, the JIT
    compilers, GC) times the host's scheduler, not the program; with CPUs
    to spare, a stalled CPU's work can move to another."""
    return max(1, nproc // 2)


def jvm_flags(cpus):
    """Background JVM threads capped to the task slots: two JIT compilers
    (one per tier), one concurrent GC thread."""
    return ["-XX:CICompilerCount=2", "-XX:-UseDynamicNumberOfCompilerThreads",
            f"-XX:ParallelGCThreads={cpus}", "-XX:ConcGCThreads=1"]


def run_jvm(classes, args, log_path):
    resources = os.path.join(ROOT, "src", "main", "resources")
    cp = os.pathsep.join([classes, resources, f"{SPARK_JARS}/*"])
    cmd = (["java", f"-Xmx{XMX}", "-Xss8m", "-XX:-UsePerfData"] + jvm_flags(args["cpus"])
           + [f"-Djava.io.tmpdir={args['tmp']}", "-Duser.timezone=UTC",
              "-Dspark.ui.enabled=false"]
           + [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS]
           + ["-cp", cp, "perfbench.Harness"]
           + [f"{k}={v}" for k, v in args.items()])
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=args["work"])
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            return "timeout"
        finally:  # also on SIGTERM/SIGINT: never leave the JVM behind
            if p.poll() is None:
                p.kill()
                p.wait()


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    opt = ap.parse_args()
    rounds = (TRACED_ROUNDS, TRACED_ROUNDS) if opt.trace else (WORKLOADS[opt.workload], 1_000_000)
    knobs = {"setup_reps": SETUP_REPS, "min_rounds": rounds[0], "max_rounds": rounds[1]}

    classes = build()
    static = gen.static_tables(os.path.join(BUILD, f"static-v{gen.GEN_VERSION}"))
    run_dir = os.path.join(BUILD, "runs", f"{opt.workload}-{opt.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "work", "dumps"):
        os.makedirs(os.path.join(run_dir, d))
    try:
        result, sidecar = measure(opt, knobs, classes, static, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    side_dir = os.path.join(BUILD, "sidecars")
    os.makedirs(side_dir, exist_ok=True)
    side = os.path.join(side_dir, f"{opt.workload}-seed{opt.seed}-trace{opt.trace}.json")
    with open(side, "w") as fh:
        json.dump(sidecar, fh, indent=1, sort_keys=True)
    print(f"sidecar: {os.path.relpath(side, ROOT)}")
    print(json.dumps(result))


def measure(opt, knobs, classes, static, run_dir):
    load0 = open("/proc/loadavg").read().strip()
    nproc = os.cpu_count() or 1
    cpus = slots(nproc)
    t0 = time.perf_counter()
    feed = gen.write_run_inputs(static, run_dir, opt.seed)
    gen_s = time.perf_counter() - t0
    order = random.Random(opt.seed)
    queries = {"pipeline": list(metrics.ANALYTICS), "curation": list(metrics.CURATION)}
    for q in queries.values():
        order.shuffle(q)
    args = {
        "workload": opt.workload, "seed": opt.seed, "seconds": opt.seconds,
        "trace": opt.trace, "cpus": cpus, "data": feed["data"],
        "arrivals": os.path.join(run_dir, "arrivals"),
        "work": os.path.join(run_dir, "work"), "tmp": os.path.join(run_dir, "tmp"),
        "dumps": os.path.join(run_dir, "dumps"),
        "out": os.path.join(run_dir, "results.json"),
        "queries": ",".join(queries[opt.workload]),
    }
    args.update(knobs)
    steal0, total0 = cpu_times()
    rc = run_jvm(classes, args, os.path.join(run_dir, "jvm.log"))
    steal1, total1 = cpu_times()
    steal = (steal1 - steal0) / max(1, total1 - total0)
    if rc != 0 or not os.path.isfile(args["out"]):
        sys.stderr.write(open(os.path.join(run_dir, "jvm.log")).read()[-6000:])
        die(f"harness exited with {rc}")
    with open(args["out"]) as fh:
        res = json.load(fh)

    # -- correctness gate (untimed) --
    failures = [f"{f['name']}: {f['error']}" for f in res["failures"]]
    checked = 0
    gate_s = {}
    staged = res["staged_dir"]
    con = gate.duckdb_connect(feed["data"], staged or None, os.path.join(run_dir, "duckdb"))
    for name in res["dumps"]:
        sql = res["oracle"].get(name)
        if sql is None:
            continue
        checked += 1
        g0 = time.perf_counter()
        why = gate.oracle_check(con, sql, os.path.join(args["dumps"], name + ".jsonl"),
                                os.path.join(BUILD, f"oracle-v{gen.GEN_VERSION}"))
        gate_s[name] = time.perf_counter() - g0
        if why:
            failures.append(f"{name}: {why}")
    con.close()
    if staged:
        checked += 1
        problems = gate.staged_check(staged, feed)
        if problems:
            failures.append("staged feed: " + "; ".join(problems))
    attempted = res["attempted"] + checked

    scratch, _ = dir_bytes(args["tmp"])
    _, files_written = dir_bytes(args["work"])
    # what the program wrote as parquet (staged feed, warehouse) against what
    # it was given (arrival files, the static tables it reads)
    written = dir_bytes(args["work"], ".parquet")[0] + dir_bytes(args["tmp"], ".parquet")[0]
    given = dir_bytes(args["arrivals"])[0] + sum(
        os.path.getsize(os.path.join(feed["data"], f)) for f in os.listdir(feed["data"])
        if f != "events.parquet")
    e2e = metrics.end_to_end(res, gen_s)
    wall = metrics.wall_clock(res)
    units = {n: u for n, u, _ in metrics.END_TO_END}
    ops = metrics.warm_ops(res)
    tl = metrics.tail(ops)
    for n, _, _ in metrics.END_TO_END:
        print(f"{n} = {e2e[n]:.6g} {units[n]}")
    print(", ".join(f"{k} = {v:.6g} s" for k, v in wall.items()) + " (wall clock)")
    figures = {
        "setup_cold_s": res["setup_s"][0], "gen_s": gen_s,
        "queries_per_s": metrics.queries_per_s(res),
        "bytes_written_per_input_byte": written / given if staged else None,
        "peak_rss_mb": res["peak_rss_mb"], "scratch_mb": scratch / 1e6,
        "cpu_steal_pct": steal * 100}
    print(", ".join(f"{k} = {v:.6g}" for k, v in figures.items() if v is not None))
    print(f"warm ops = {len(ops)}, rounds = {len(res['rounds'])}, "
          f"op_p50 = {metrics.median(ops):.6g} s, tail = "
          + (f"p{tl[0]:g} {tl[1]:.6g} s" if tl else "n/a (fewer than 20 ops)"))
    print(f"failed_ratio = {len(failures) / attempted:.6g} "
          f"({len(failures)} of {attempted}); outputs checked against the oracle or "
          f"the generator: {checked}")
    for f in failures:
        print(f"FAILED {f}")

    layer = None
    if opt.trace:
        layer = metrics.per_layer(res, cpus, scratch, files_written)
        lunits = {n: u for n, u, _ in metrics.LAYER}
        print(f"tracing overhead = {layer['trace.overhead_pct']:.3g} %")
        metrics_out = {n: {"value": layer[n], "unit": lunits[n]} for n, _, _ in metrics.LAYER}
    else:
        metrics_out = {n: {"value": e2e[n], "unit": units[n]} for n, _, _ in metrics.END_TO_END}

    sidecar = {
        "workload": opt.workload, "seed": opt.seed, "seconds": opt.seconds,
        "trace": bool(opt.trace), "git_sha": git_sha(), "nproc": nproc,
        "master": f"local[{cpus}]", "host": socket.gethostname(),
        "jvm_xmx": XMX, "jvm_flags": jvm_flags(cpus), "jvm_max_heap_mb": res["xmx_mb"],
        "confs": res["confs"],
        "loadavg_start": load0, "loadavg_end": open("/proc/loadavg").read().strip(),
        "cpu_steal_share": steal,
        "loadavg_timed_start": res["loadavg_start"], "loadavg_timed_end": res["loadavg_end"],
        "gen_s": gen_s, "setup_reps_s": res["setup_s"], "timed_s": res["timed_s"],
        "rounds": res["rounds"], "ops": res["ops"],
        "tail": {"percentile": tl[0], "seconds": tl[1], "n": len(ops)} if tl else None,
        "failures": failures, "attempted": attempted, "checked": checked,
        "figures": figures, "end_to_end": e2e, "wall_clock": wall, "per_layer": layer,
        "self_s": metrics.self_times(res["spans"]) if opt.trace else None,
        "spans": res["spans"] if opt.trace else None,
        "knobs": knobs, "gate_s": gate_s,
    }
    broken = [n for n, m in metrics_out.items() if not math.isfinite(m["value"])]
    if broken:
        die(f"no value for {', '.join(broken)}: too few operations completed")
    result = {"correct": not failures, "attempted": attempted, "failed": len(failures),
              "metrics": metrics_out}
    return result, sidecar


if __name__ == "__main__":
    main()
