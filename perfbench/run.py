#!/usr/bin/env python3
"""Pipeline benchmark for flowpipelinespark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program and the
benchmark driver from source (sbt, offline) into perfbench/target; later
runs reuse the build while the sources are unchanged. One run starts one
JVM with the shipped session (`GraftSession`, local[nproc]), generates its
inputs from the seed, runs the named workload, checks every answer, and
prints one JSON line last: end-to-end metrics when untraced, per-layer
metrics when traced. A `# meta` line before it stamps the source revision,
core count and heap size. Raw results (samples, checked operations, spans
and their self times) are kept under perfbench/.work/results.
"""

import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)
import benchstats  # noqa: E402

WORKLOADS = ("ingest_drain", "live_dashboard")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def program_sources():
    return os.path.join(REPO, "src", "main", "scala")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    with open(os.path.join(REPO, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("cannot locate the Spark jars: set SPARK_HOME")
    return m.group(1)


def source_files():
    roots = [program_sources(), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for root in roots:
        for d, _, names in os.walk(root):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    return sorted(files)


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(digest):
    """Compile program + driver; returns the runtime classpath."""
    stamp = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read().strip() == digest:
                with open(cp_file) as f2:
                    return f2.read().strip()
    log("building program and driver (sbt)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    opts += " -Dsbt.server.autostart=false -Dperfbench.sparkJars=" + spark_jars()
    env["SBT_OPTS"] = opts.strip()
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL, text=True, timeout=800)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("build failed")
    cp = [ln for ln in p.stdout.splitlines() if "classes" in ln and os.pathsep in ln and not ln.startswith("[")]
    if not cp:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("build printed no classpath")
    with open(cp_file, "w") as f:
        f.write(cp[-1].strip())
    with open(stamp, "w") as f:
        f.write(digest)
    log("build took %.1f s" % (time.time() - t0))
    return cp[-1].strip()


def revision(digest):
    rev = {"source_sha256": digest}
    if os.path.isdir(os.path.join(REPO, ".git")):
        try:
            sha = subprocess.run(["git", "-C", REPO, "rev-parse", "HEAD"], capture_output=True,
                                 text=True, timeout=20).stdout.strip()
            dirty = subprocess.run(["git", "-C", REPO, "status", "--porcelain", "--", "src", "perfbench"],
                                   capture_output=True, text=True, timeout=20).stdout.strip()
            rev.update(git_sha=sha, dirty=bool(dirty))
        except (OSError, subprocess.SubprocessError):
            pass
    rev.setdefault("git_sha", None)
    rev.setdefault("dirty", None)
    return rev


def heap_mb():
    try:
        with open("/proc/meminfo") as f:
            kb = int(re.search(r"MemTotal:\s+(\d+)", f.read()).group(1))
        return max(2048, min(4096, kb // 1024 // 4))
    except (OSError, AttributeError):
        return 2048


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(cp, args, run_dir, out_file, ncpu, heap):
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    cmd = ["java", "-Xmx%dm" % heap, "-Djava.io.tmpdir=" + tmp,
           "-Dspark.sql.session.timeZone=UTC", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", args.workload, str(args.seed), str(args.seconds),
            str(args.trace), os.path.join(run_dir, "work"), out_file, str(ncpu)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    log_path = os.path.join(WORK, "logs", "%s-%d-%d.log" % (args.workload, args.seed, args.trace))
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    with open(log_path, "w") as lf:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)

        def stop(signum, _frame):
            p.kill()
            p.wait()
            raise SystemExit("interrupted by signal %d" % signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(log_path) as lf:
            sys.stderr.write(lf.read()[-6000:])
        raise SystemExit("benchmark JVM failed (%s); log in %s" % (rc, log_path))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(program_sources()):
        raise SystemExit("program sources not found at %s: run from a full checkout"
                         % os.path.relpath(program_sources(), os.getcwd()))

    t_start = time.time()
    os.makedirs(WORK, exist_ok=True)
    digest = source_digest()
    cp = build(digest)
    run_dir = os.path.join(WORK, "run-%s-%d-%d-%d" % (args.workload, args.seed, args.trace, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    out_file = os.path.join(run_dir, "raw.json")
    ncpu, heap = cpus(), heap_mb()
    try:
        run_jvm(cp, args, run_dir, out_file, ncpu, heap)
        with open(out_file) as f:
            raw = json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted, failed, notes = benchstats.account(raw["ops"])
    for n in notes:
        log("FAILED " + n)
    if args.trace:
        values = benchstats.per_layer(raw, failed / attempted)
        units = dict(benchstats.PER_LAYER)
    else:
        values = benchstats.end_to_end(raw)
        units = dict(benchstats.END_TO_END)
    metrics = {k: {"value": values[k], "unit": units[k]} for k, _ in
               (benchstats.PER_LAYER if args.trace else benchstats.END_TO_END)}

    n_fresh = len(raw["samples"].get("freshness_s", []))
    n_load = len(raw["samples"].get("dashboard_load_s", []))
    meta = dict(revision(digest), workload=args.workload, seed=args.seed, seconds=args.seconds,
                trace=args.trace, nproc=ncpu, heap_mb=heap, jvm=raw["meta"],
                device=[raw["scalars"].get("device.mode"), raw["scalars"].get("device.before"),
                        raw["scalars"].get("device.after")],
                samples={"freshness": n_fresh, "dashboard_load": n_load}, failures=notes,
                tail_supported={"freshness": benchstats.max_tail(n_fresh),
                                "dashboard_load": benchstats.max_tail(n_load)},
                wall_s=round(time.time() - t_start, 3))
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}

    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    base = os.path.join(WORK, "results", "%s-%d-%d" % (args.workload, args.seed, args.trace))
    with open(base + ".json", "w") as f:
        json.dump({"meta": meta, "result": result, "samples": raw["samples"],
                   "scalars": raw["scalars"]}, f)
    if args.trace:
        by_name = benchstats.self_time_by_name(raw["spans"])
        with open(base + ".spans.json", "w") as f:
            json.dump({"spans": raw["spans"], "self_time": {
                k: {"count": n, "total_s": t, "self_s": s} for k, (n, t, s) in by_name.items()}}, f)
        for k, (n, t, s) in sorted(by_name.items(), key=lambda kv: -kv[1][2])[:12]:
            log("self time %-48s n=%-5d total %8.3f s  self %8.3f s" % (k, n, t, s))
    print("# meta " + json.dumps(meta))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
