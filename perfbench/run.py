#!/usr/bin/env python3
"""Run one perfbench workload and print its result line.

Usage (from the repository root):

    python3 perfbench/run.py --workload events_stream --seed 1 --seconds 10 --trace 0

Builds the engine (src/main) and the harness (perfbench/src) with the
Scala compiler that ships among the Spark jars, unless an up-to-date
build exists, then runs the workload in one JVM. The last line of
standard output is one JSON object with the keys correct, attempted,
failed and metrics: the end-to-end metrics with --trace 0, the
per-layer metrics with --trace 1. The full result (checks, input
manifest, spans, per-batch figures) is written to
perfbench/results/<workload>-seed<seed>-trace<t>.json.
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, "build")
WORK = os.path.join(HERE, "work")
RESULTS = os.path.join(HERE, "results")
WORKLOADS = ("events_stream", "corpus_dedup", "crawl_drops")
RUN_TIMEOUT_S = 170

# the module opens Spark needs on JDK 17 outside spark-submit (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else the build's unmanagedBase."""
    if os.environ.get("SPARK_HOME"):
        d = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = os.path.join(ROOT, "build.sbt")
        if not os.path.isfile(sbt):
            die("no build.sbt at the repository root to locate the Spark jars")
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if not m:
            die("build.sbt names no unmanagedBase")
        d = m.group(1)
    if not os.path.isdir(d):
        die(f"Spark jar directory {d} not found")
    return d


def source_files():
    """Every input of the build: engine sources and resources, harness sources."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die("no src/main/scala: run from the repository root of a full checkout")
    files = []
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build(jars):
    """Compile into perfbench/build/classes unless the stamp matches the sources."""
    files = source_files()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return classes, stamp
    print("perfbench: building engine and harness", file=sys.stderr, flush=True)
    shutil.rmtree(BUILD, ignore_errors=True)
    tmp = os.path.join(BUILD, "classes.tmp")
    os.makedirs(tmp)
    cp = [os.path.join(jars, j) for j in sorted(os.listdir(jars)) if j.endswith(".jar")]
    compiler = [j for j in cp if re.search(r"/scala-(compiler|library|reflect)-[\d.]+\.jar$", j)]
    if len(compiler) != 3:
        die("the Scala compiler, library and reflect jars are not among the Spark jars")
    argfile = os.path.join(BUILD, "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("-nowarn\n-d\n%s\n-classpath\n%s\n" % (tmp, os.pathsep.join(cp)))
        fh.write("\n".join(f for f in files if f.endswith(".scala")) + "\n")
    subprocess.run(["java", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
                    "scala.tools.nsc.Main", "@" + argfile], check=True)
    res = os.path.join(ROOT, "src", "main", "resources")
    shutil.copytree(res, tmp, dirs_exist_ok=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes, stamp


def stop_group(proc):
    """Kill whatever is left of the run's process group and wait until it is gone."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        return
    proc.wait()
    deadline = time.time() + 10
    while time.time() < deadline:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def cpu_times():
    """The aggregate cpu line of /proc/stat (user nice system idle iowait irq softirq steal)."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:9]]
    except OSError:
        return None


def steal_share(a, b):
    """Share of CPU time the hypervisor took from this machine between two samples."""
    if not a or not b:
        return None
    d = [y - x for x, y in zip(a, b)]
    return d[7] / sum(d) if sum(d) else 0.0


def git_sha():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cpu_start = cpu_times()
    jars = spark_jars()
    classes, stamp = build(jars)
    # the time limit starts after a build: only the first run in a checkout builds
    t_start = time.time()
    nproc = len(os.sched_getaffinity(0))
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(nproc)
    heap = os.environ.get("SPARK_DRIVER_MEM", "3g")
    work = os.path.join(WORK, f"{a.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    out = os.path.join(RESULTS, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    if os.path.exists(out):
        os.remove(out)
    cmd = ["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--out", out, "--work", work]
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus)
    budget = max(30, RUN_TIMEOUT_S - (time.time() - t_start))
    proc = subprocess.Popen(cmd, env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                            text=True, start_new_session=True)
    try:
        stdout, stderr = proc.communicate(timeout=budget)
    except subprocess.TimeoutExpired:
        stop_group(proc)
        shutil.rmtree(work, ignore_errors=True)
        die(f"{a.workload} did not finish within {budget:.0f} s")
    finally:
        stop_group(proc)
    shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0 or not os.path.isfile(out):
        sys.stderr.write(stderr[-8000:])
        die(f"{a.workload} failed with exit code {proc.returncode}")

    res = json.load(open(out))
    res["info"].update({"git_sha": git_sha(), "source_sha256": stamp, "nproc": nproc,
                        "spark_graft_cpus": int(cpus), "heap": heap,
                        "host_steal_share": steal_share(cpu_start, cpu_times())})
    with open(out, "w") as fh:
        json.dump(res, fh)
    metrics = res["per_layer"] if a.trace else res["e2e"]
    missing = [k for k, m in metrics.items()
               if not isinstance(m["value"], (int, float)) or not math.isfinite(m["value"])]
    if missing:
        die(f"{a.workload} measured no value for {', '.join(sorted(missing))}")
    failed_checks = [c for c in res["checks"] if c["failed"]]
    for c in failed_checks:
        print(f"FAILED {c['name']}: {c['failed']} of {c['attempted']} ({c['detail']})")
    info = res["info"]
    named = {k: info[k] for k in ("backfill_eps", "tail_p50_ms", "tail_p90_ms", "tail_p99_ms", "tail_samples",
                                   "dedup_docs_per_s", "dedup_recall", "passes",
                                   "crawl_docs_per_s", "crawl_drop_p50_s") if k in info}
    named["error_rate"] = res["failed"] / res["attempted"]
    print(f"{a.workload} seed={a.seed} trace={a.trace} " +
          " ".join(f"{k}={v:.6g}" for k, v in named.items()) +
          f" | result file {os.path.relpath(out, ROOT)}")
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
