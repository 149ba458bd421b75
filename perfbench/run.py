#!/usr/bin/env python3
"""Benchmark command for the CDC pipeline and the operator registry.

Run from the root of a checkout:

    python3 perfbench/run.py --workload cdc_drain --seed 1 --seconds 10 --trace 0

Builds the repository's sources plus the harness in perfbench/ with sbt
(once per checkout; the build is reused while the sources are unchanged),
runs one workload in a fresh JVM, checks its outputs and prints one JSON
line as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 prints the end-to-end metrics; --trace 1 prints the per-layer
metrics of a traced run and writes the spans to .perfbench_work/run/.
Workloads: cdc_drain, cdc_tail, registry_sweep (see BENCHMARK.json and
perfbench/DESIGN.md).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

WORKLOADS = ("cdc_drain", "cdc_tail", "registry_sweep")
ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".perfbench_build")
WORK = os.path.join(ROOT, ".perfbench_work")

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# A fixed, pre-touched heap: the collector does not resize it and no page
# is first touched inside a measured window, so runs repeat. Memory is
# reported as the live heap, which these flags do not set.
HEAP = ["-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch"]
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 165
COMPARE_TIMEOUT_S = 60


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build (and of this script, which makes
    the class archive), so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "project", "build.properties"),
             os.path.abspath(__file__)]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout or when
    this script is terminated."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)

    def stop(signum, _frame):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        sys.exit(128 + signum)

    old = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    finally:
        for s, h in old.items():
            signal.signal(s, h)
    return p.returncode, out, err


def build():
    """Compile with sbt once per source state; returns the classpath."""
    for need in (os.path.join(ROOT, "src", "main", "scala"),
                 os.path.join(ROOT, "build.sbt")):
        if not os.path.exists(need):
            die(f"{os.path.relpath(need, ROOT)} not found: run from the repository root")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "sbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    t0 = time.time()
    try:
        rc, out, _ = run_bounded(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspathAsJars"],
            BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdin=subprocess.DEVNULL,
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    except subprocess.TimeoutExpired:
        die("build timed out")
    with open(os.path.join(BUILD, "build.log"), "w") as fh:
        fh.write(out)
    lines = [l for l in out.splitlines() if l and not l.startswith("[")]
    if rc != 0 or not lines:
        sys.stderr.write(out[-4000:])
        die(f"build failed (exit {rc})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    train_class_archive(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp


def train_class_archive(cp):
    """Record the classes a short cdc_tail run loads into a class data
    archive, so every later JVM maps them instead of loading them: this
    cuts JVM start-up (the first of a run's set-ups, which setup_s leaves
    out), not the work measured. Runs without it on failure."""
    archive = os.path.join(BUILD, "classes.jsa")
    train = os.path.join(BUILD, "train")
    if os.path.exists(archive):
        os.remove(archive)
    shutil.rmtree(train, ignore_errors=True)
    os.makedirs(train)
    ns = argparse.Namespace(workload="cdc_tail", seed=0, seconds=1, trace=0, cpus=os.cpu_count())
    cmd = java_cmd(cp, ns, train, [f"-XX:ArchiveClassesAtExit={archive}"])
    try:
        rc, _, _ = run_bounded(cmd, RUN_TIMEOUT_S, cwd=train, env=jvm_env(),
                               stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL,
                               stderr=subprocess.DEVNULL)
    except subprocess.TimeoutExpired:
        rc = -1
    shutil.rmtree(train, ignore_errors=True)
    if rc != 0 and os.path.exists(archive):
        os.remove(archive)
    if not os.path.exists(archive):
        print("perfbench: no class data archive; JVMs start without it", file=sys.stderr)


def jvm_env():
    env = dict(os.environ)
    # Spark would put its scratch space there instead of spark.local.dir
    env.pop("SPARK_LOCAL_DIRS", None)
    return env


def java_cmd(cp, args, run_dir, jvm_opts=None):
    java = shutil.which("java")
    jh = os.environ.get("JAVA_HOME")
    if jh and os.path.exists(os.path.join(jh, "bin", "java")):
        java = os.path.join(jh, "bin", "java")
    if not java:
        die("java not found")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    if jvm_opts is None:
        archive = os.path.join(BUILD, "classes.jsa")
        jvm_opts = [f"-XX:SharedArchiveFile={archive}"] if os.path.exists(archive) else []
    # JVM notes (class archive, GC) go to stderr; stdout carries the result
    logs = ["-Xlog:disable", "-Xlog:all=warning:stderr"]
    return [java, *opens, *jvm_opts, *logs, *HEAP, "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={run_dir}",
            f"-Dderby.stream.error.file={os.path.join(run_dir, 'derby.log')}",
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cpus", str(args.cpus), "--work", run_dir]


def oracle_failures(run_dir):
    """Registry cells whose dumped output differs from the DuckDB oracle
    over the same seeded corpus (tools/compare.py)."""
    compare = os.path.join(ROOT, "tools", "compare.py")
    if not os.path.exists(compare):
        return ["tools/compare.py not found"]
    try:
        _, out, _ = run_bounded(
            [sys.executable, compare, os.path.join(run_dir, "corpus"),
             os.path.join(run_dir, "registry_out")],
            COMPARE_TIMEOUT_S, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT, text=True)
    except subprocess.TimeoutExpired:
        return ["oracle compare timed out"]
    fails = [l for l in out.splitlines() if l.startswith("FAIL")]
    if not any(" passed, " in l for l in out.splitlines()):
        fails.append("oracle compare did not finish: " + out[-500:])
    return fails


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int,
                    help="Spark local[N]; default 1 for cdc_drain, else all cores")
    args = ap.parse_args()
    if args.cpus is None:
        # the drain gains nothing from more cores (its sink partitions all
        # write to one Derby table), and on one core its rate and memory
        # repeat far better on a shared host
        args.cpus = 1 if args.workload == "cdc_drain" else os.cpu_count()

    cp = build()
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(run_dir)
    env = jvm_env()
    log_path = os.path.join(WORK, "jvm.log")
    try:
        with open(log_path, "w") as log:
            rc, out, _ = run_bounded(java_cmd(cp, args, run_dir), RUN_TIMEOUT_S, cwd=run_dir,
                                     env=env, stdin=subprocess.DEVNULL,
                                     stdout=subprocess.PIPE, stderr=log, text=True)
    except subprocess.TimeoutExpired:
        die(f"run timed out after {RUN_TIMEOUT_S} s; see {log_path}")
    result = None
    for line in out.splitlines():
        if line.startswith("RESULT "):
            result = json.loads(line[len("RESULT "):])
        elif line.strip():
            print(line)
    if rc != 0 or result is None:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        die(f"workload {args.workload} produced no result (exit {rc})")

    errors = result.pop("errors", [])
    if args.workload == "registry_sweep":
        bad = oracle_failures(run_dir)
        if bad:
            errors += bad
            result["failed"] += len(bad)
    result["correct"] = result["correct"] and not errors
    for e in errors:
        print(f"perfbench: check failed: {e}", file=sys.stderr)
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
