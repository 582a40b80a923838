#!/usr/bin/env python3
"""Gating benchmark for graft.

Usage, from the root of a graft checkout:

    python3 gatebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds graft and the Scala harness from source when either changed (sbt,
offline), sizes the JVM from the machine (cores from the CPU affinity
mask, heap = half of MemTotal clamped to 2-8 GB), runs the workload in a
fresh scratch directory under gatebench/runs/, checks every output, and
prints as its last line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 the per-layer ones. The line before it is a JSON record of
the run's context (cores, heap, sample counts, tail latency, a CPU probe
and the load average before and after). Exits 1 when any statement
failed or any output check failed.
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

import oracle

BENCH = os.path.dirname(os.path.abspath(__file__))
BUILD_BUDGET_S = 700
RUN_BUDGET_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"gatebench: {msg}", file=sys.stderr)
    sys.exit(code)


def cores():
    return len(os.sched_getaffinity(0))


def heap_mb():
    """Half of MemTotal, clamped to 2-8 GB."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return int(min(8, max(2, kb // 2097152)) * 1024)


def source_stamp(root):
    h = hashlib.sha256()
    files = [os.path.join(root, "build.sbt"), os.path.join(root, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for base in (os.path.join(root, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    for p in sorted(files):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def sbt_classpath(cwd, deadline, *tasks):
    """Runs sbt in `cwd` and returns the classpath printed by its last
    task, `export Runtime/fullClasspath`."""
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", *tasks, "export Runtime/fullClasspath"]
    p = subprocess.Popen(cmd, cwd=cwd, env=sbt_env(), stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                         stderr=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, err = p.communicate(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"sbt build timed out in {cwd}", 1)
    lines = [l.strip() for l in out.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or os.pathsep not in lines[-1] and not lines[-1].endswith(".jar"):
        sys.stderr.write(out[-4000:] + err[-4000:])
        fail(f"sbt build failed in {cwd}", 1)
    return lines[-1]


def build(root):
    """Compiles graft with its own build, then the harness against it."""
    target = os.path.join(BENCH, "target")
    stamp_file = os.path.join(target, "gatebench.stamp")
    cp_file = os.path.join(target, "run.classpath")
    stamp = source_stamp(root)
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(target, exist_ok=True)
    deadline = time.time() + BUILD_BUDGET_S
    graft_cp = sbt_classpath(root, deadline)
    with open(os.path.join(target, "graft.classpath"), "w") as f:
        f.write(graft_cp)
    cp = sbt_classpath(BENCH, deadline, "compile")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def run_java(cp, args, run_dir, n_cores, heap, deadline):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{heap}m", "-Xmn1g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "gatebench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--cores", str(n_cores),
            "--out", run_dir]
    with open(os.path.join(run_dir, "java.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = None
    return rc


def tail_percentile(n):
    """Highest of p99/p95/p90/p75/p50 with at least ten samples above it."""
    for q in (99, 95, 90, 75, 50):
        if n * (100 - q) / 100 >= 10:
            return q
    return None


def percentile(xs, q):
    xs = sorted(xs)
    k = (len(xs) - 1) * q / 100
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("run from the root of a graft checkout (build.sbt and src/main/scala/graft not found)")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)

    cp = build(root)
    deadline = time.time() + RUN_BUDGET_S
    n_cores, heap = cores(), heap_mb()
    run_dir = os.path.join(BENCH, "runs",
                           f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time() * 1000)}-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        rc = run_java(cp, args, run_dir, n_cores, heap, deadline)
        raw_path = os.path.join(run_dir, "raw.json")
        if rc != 0 or not os.path.exists(raw_path):
            with open(os.path.join(run_dir, "java.log")) as f:
                sys.stderr.write(f.read()[-6000:])
            fail(f"harness {'timed out' if rc is None else f'exited with {rc}'}; see {run_dir}/java.log", 1)
        with open(raw_path) as f:
            raw = json.load(f)
        # statement name -> failure, from the one-off checks and the oracle
        bad = {c["name"]: c["error"] for c in raw["check_failures"]}
        if os.path.exists(os.path.join(run_dir, "oracle.json")):
            bad.update(oracle.compare(run_dir))
    finally:
        for sub in ("data", "local", "warehouse", "check", "tmp"):
            shutil.rmtree(os.path.join(run_dir, sub), ignore_errors=True)
    for name, err in sorted(bad.items()):
        print(f"gatebench: check failed: {name}: {err}", file=sys.stderr)

    stmts = [s for r in raw["rounds"] for s in r["stmts"]]
    for s in stmts:
        if s["name"] in bad:
            s["ok"] = False
    attempted = len(stmts)
    failed = sum(1 for s in stmts if not s["ok"])
    # a failed check on a statement that never ran still fails the run
    failed += len(set(bad) - {s["name"] for s in stmts})
    correct = failed == 0

    untraced = [r for r in raw["rounds"] if not r["traced"]]
    reads = [s["secs"] for r in untraced for s in r["stmts"] if s["kind"] == "read" and s["ok"]]
    writes = [s["secs"] for r in untraced for s in r["stmts"] if s["kind"] == "write" and s["ok"]]
    if args.trace == 0:
        values = {
            "setup_s": raw["setup_s"],
            "round_s": statistics.median(r["wall_s"] for r in untraced),
            "read_p50_s": statistics.median(reads) if reads else 0.0,
            "peak_rss_mb": raw["peak_rss_mb"],
        }
        wanted = spec["end_to_end"]
    else:
        values = raw["layers"]
        wanted = spec["per_layer"]
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]} for m in wanted}

    info = {k: raw[k] for k in ("workload", "seed", "cores", "heap_mb", "inputs", "warmup_secs",
                                "probe_before_s", "probe_after_s", "loadavg_before", "loadavg_after")}
    info["round_cpu_s"] = statistics.median(r["cpu_s"] for r in untraced)
    info["rounds"] = len(untraced)
    info["failed_frac"] = failed / attempted if attempted else 1.0
    for kind, xs in (("read", reads), ("write", writes)):
        info[f"{kind}_samples"] = len(xs)
        q = tail_percentile(len(xs))
        if q:
            info[f"{kind}_p50_s"] = percentile(xs, 50)
            info[f"{kind}_p{q}_s"] = percentile(xs, q)
    info["run_dir"] = os.path.relpath(run_dir, root)
    print(json.dumps({"info": info}))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
