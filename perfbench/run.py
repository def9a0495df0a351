#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark harness from the checkout it sits in
(sbt, once per source state), then runs one workload in a single JVM at
local[N], N = the CPUs this process may use. Every run gets a fresh work
directory (warehouse, lake, memo scratch, Spark local dir) that is deleted
afterwards. The last line of standard output is the result object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics (0 where the workload does not reach
the layer). The traced run also writes its spans and call-site table to
perfbench/.out/. The exit code is non-zero whenever an operation failed.

The work of a run is fixed: one pass over the query sample, or one event
hour (two when traced). Either takes longer than the --seconds the benchmark
declares, so --seconds is accepted and the work is not cut or repeated by it.

Other options: --record-expected 1 (query_surface) runs all 232 queries once
and rewrites expected_counts.tsv from their row counts.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(BENCH, ".build")
OUT = os.path.join(BENCH, ".out")
WORKLOADS = ("query_surface", "stream_hours")
RUN_LIMIT_S = 170.0
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Digest of every build input: the program's and the harness's."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
                os.path.join(BENCH, "src", "main"), os.path.join(BENCH, "project")):
        for d, subdirs, files in os.walk(top):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        if os.path.isfile(p):
            st = os.stat(p)
            h.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.isfile(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    return env


def build():
    """Compile program + harness with sbt; return the runtime classpath."""
    os.makedirs(BUILD, exist_ok=True)
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    with open(os.path.join(BUILD, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = source_stamp()
        if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
            with open(stamp_file) as f:
                if f.read() == stamp:
                    with open(cp_file) as c:
                        return c.read().strip()
        log("building program and harness with sbt")
        t0 = time.time()
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export perfbench/Runtime/fullClasspath"],
            cwd=BENCH, env=sbt_env(), stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT, text=True, timeout=850)
        lines = [l for l in proc.stdout.splitlines()
                 if not l.startswith("[") and ".jar" in l]
        if proc.returncode != 0 or not lines:
            sys.stderr.write(proc.stdout[-4000:])
            raise SystemExit("build failed")
        with open(cp_file, "w") as c:
            c.write(lines[-1].strip())
        with open(stamp_file, "w") as f:
            f.write(stamp)
        log(f"built in {time.time() - t0:.1f} s")
        return lines[-1].strip()


def cpus():
    return len(os.sched_getaffinity(0))


def cpu_ticks():
    """(steal, total) ticks of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def run_jvm(classpath, args, work, deadline_s):
    """Run the harness; return (exit code, parsed result or None)."""
    cmd = (["java"] + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Xmx3g", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dderby.system.home=" + work,
            "-cp", classpath, "perfbench.Main"] + args)
    os.makedirs(os.path.join(work, "tmp"))
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as jlog:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=jlog,
                                text=True, cwd=work, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=deadline_s)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            log(f"harness exceeded {deadline_s:.0f} s and was stopped")
            out = ""
    result = None
    for line in out.splitlines():
        if line.startswith("PERFBENCH_RESULT "):
            result = json.loads(line[len("PERFBENCH_RESULT "):])
    if result is None:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
    return proc.returncode, result


def final_result(jvm, spec, trace):
    """The printed result object, from the harness output and BENCHMARK.json.
    Every end-to-end metric must be present; a missing one fails the run."""
    failed = jvm["failed"]
    correct = jvm["correct"]
    metrics = {}
    if trace:
        for m in spec["per_layer"]:
            v = jvm["layers"].get(m["name"], {}).get("value", 0)
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    else:
        for m in spec["end_to_end"]:
            got = jvm["e2e"].get(m["name"])
            if got is None or got["value"] is None:
                correct = False
                failed += 1
                log(f"end-to-end metric {m['name']} was not measured")
                continue
            metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}
    return {"correct": bool(correct), "attempted": jvm["attempted"],
            "failed": failed, "metrics": metrics}


def exit_code(result):
    return 0 if result["correct"] and result["failed"] == 0 else 1


def main(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-expected", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            log(f"no program to measure: {need} is missing from {ROOT}")
            return 2
    with open(spec_path) as f:
        spec = json.load(f)

    t_start = time.time()
    load_start = os.getloadavg()
    steal_start, ticks_start = cpu_ticks()
    classpath = build()
    t_built = time.time()
    work = os.path.join(BENCH, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    n = cpus()
    args = ["--workload", a.workload, "--seed", str(a.seed), "--trace", str(a.trace),
            "--cpus", str(n), "--fixtures", os.path.join(BENCH, "fixtures", "sf0.01"),
            "--work", work, "--out", OUT,
            "--expected", os.path.join(BENCH, "expected_counts.tsv"),
            "--record-expected", str(a.record_expected)]
    try:
        code, jvm = run_jvm(classpath, args, work, RUN_LIMIT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if jvm is None:
        log(f"harness exited {code} without a result")
        return code or 1
    for f in jvm["failures"][:20]:
        log(f"FAILED {f}")
    steal_end, ticks_end = cpu_ticks()
    # the share of CPU time the hypervisor gave to other guests: a noisy
    # neighbour slows a run without any change to the program
    host = {"nproc": n, "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
            "steal_share": (steal_end - steal_start) / max(1, ticks_end - ticks_start),
            "build_s": t_built - t_start, "run_s": time.time() - t_built}
    log(f"host {json.dumps(host)}")
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, f"run-{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump({"host": host, "harness": jvm}, f, indent=1)
    result = final_result(jvm, spec, a.trace == 1)
    print(json.dumps(result))
    sys.stdout.flush()
    return exit_code(result) if code == 0 else (code or 1)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
