#!/usr/bin/env python3
"""Run one benchmark workload and print its JSON result as the last line.

    python3 perfbench/run.py --workload serve|refresh --seed N \
        --seconds S --trace 0|1

Run it from the root of a checkout. The first run compiles the program
(src/main/scala) and the benchmark (perfbench/src) with the Scala compiler
shipped in the Spark jars, into jars under
.bench_build/perfbench/<source hash>/, and then, untimed, records a
class-data-sharing archive: one training serve run whose JVM dumps the
classes it loaded when it exits. Later runs reuse both, and every measured
run starts its JVM from that archive. Each run starts one JVM directly (no
sbt) with local[nproc] Spark, writes only under its own .bench_build/runs/<id>/ directory (Spark
local dirs, warehouse, java.io.tmpdir included), and deletes that directory
when it ends.
"""
import argparse
import fcntl
import glob
import hashlib
import os
import re
import shutil
import signal
import subprocess
import sys
import time

JVM_LIMIT_S = 170
CHILD = None  # the process run.py is waiting for, stopped on SIGTERM/SIGINT


def spark_jars(root):
    """$SPARK_HOME/jars, else the jar directory build.sbt declares."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            return re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read()).group(1)
    except (OSError, AttributeError):
        sys.exit("perfbench: set SPARK_HOME (no build.sbt unmanagedBase found)")


SPARK_JARS = spark_jars(os.getcwd())
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def java_cmd(run_dir, cp, archive_flag):
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={run_dir}/tmp",
           archive_flag]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", ":".join(cp), "perfbench.Main"]


def run_child(cmd, limit_s, **kw):
    """Run cmd to its end (killed after limit_s); return (code, stdout),
    code None on a time-out."""
    global CHILD
    CHILD = subprocess.Popen(cmd, **kw)
    try:
        out, _ = CHILD.communicate(timeout=limit_s)
        return CHILD.returncode, out
    except subprocess.TimeoutExpired:
        CHILD.kill()
        CHILD.wait()
        return None, None
    finally:
        CHILD = None


def new_run_dir(build_root):
    """A fresh run directory; directories of runs that were killed go."""
    runs = os.path.join(build_root, "runs")
    os.makedirs(runs, exist_ok=True)
    for old in glob.glob(os.path.join(runs, "*")):
        pid = os.path.basename(old).split("-")[0]
        if not (pid.isdigit() and pid_alive(int(pid))):
            shutil.rmtree(old, ignore_errors=True)
    run_dir = os.path.join(runs, f"{os.getpid()}-{time.time_ns()}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    return run_dir


def sources(root, sub):
    return sorted(glob.glob(os.path.join(root, sub, "**", "*.scala"), recursive=True))


def compile_all(root, build_root):
    """Compile program and benchmark and record the class-data-sharing
    archive, once per source hash; return the classpath and the archive."""
    prog = sources(root, "src/main/scala")
    bench = sources(root, "perfbench/src")
    if not prog or not bench:
        sys.exit("perfbench: no program sources under src/main/scala "
                 "(run from the root of a full checkout)")
    h = hashlib.sha256()
    for f in prog + bench:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(build_root, "perfbench", h.hexdigest()[:16])
    classes, bench_classes = os.path.join(out, "classes"), os.path.join(out, "bench")
    # jars, not class directories: the archive only covers classes from jars
    cp = [os.path.join(out, "bench.jar"), os.path.join(out, "program.jar"), SPARK_JARS + "/*"]
    archive = os.path.join(out, "app.jsa")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(os.path.join(build_root, "perfbench", ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.exists(os.path.join(out, "OK")):
            shutil.rmtree(out, ignore_errors=True)
            os.makedirs(classes)
            os.makedirs(bench_classes)
            scalac = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={out}",
                      "-cp", SPARK_JARS + "/*", "scala.tools.nsc.Main", "-usejavacp", "-nowarn"]
            t0 = time.time()
            for dest, jar, extra, srcs in ((classes, cp[1], [], prog),
                                           (bench_classes, cp[0], [classes], bench)):
                cmd = scalac + ["-d", dest] + (["-classpath", ":".join(extra)] if extra else []) + srcs
                if (run_child(cmd, 600, stdout=sys.stderr)[0] != 0 or
                        run_child(["jar", "-J-XX:-UsePerfData", "cf", jar, "-C", dest, "."],
                                  120)[0] != 0):
                    shutil.rmtree(out, ignore_errors=True)
                    sys.exit("perfbench: compilation failed")
            print(f"[perfbench] compiled in {time.time() - t0:.1f} s", file=sys.stderr)
            t0 = time.time()
            if not train(build_root, cp, archive):
                shutil.rmtree(out, ignore_errors=True)
                sys.exit("perfbench: recording the class-data-sharing archive failed")
            print(f"[perfbench] class archive recorded in {time.time() - t0:.1f} s",
                  file=sys.stderr)
            open(os.path.join(out, "OK"), "w").close()
    return cp, archive


def train(build_root, cp, archive):
    """One untimed serve run (seed 0, no timed rounds) whose JVM dumps the
    classes it loaded into `archive` when it exits."""
    run_dir = new_run_dir(build_root)
    try:
        cmd = java_cmd(run_dir, cp, f"-XX:ArchiveClassesAtExit={archive}") + [
            "--workload", "serve", "--seed", "0", "--seconds", "0", "--trace", "0",
            "--dir", run_dir]
        with open(os.path.join(run_dir, "jvm.log"), "w") as log:
            code, _ = run_child(cmd, JVM_LIMIT_S, stdout=subprocess.DEVNULL, stderr=log,
                                cwd=run_dir)
        if code != 0:
            with open(os.path.join(run_dir, "jvm.log"), errors="replace") as log:
                print("\n".join(log.read().splitlines()[-40:]), file=sys.stderr)
        return code == 0 and os.path.exists(archive)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def pid_alive(pid):
    try:
        os.kill(pid, 0)
        return True
    except OSError:
        return False


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["serve", "refresh"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()

    root = os.getcwd()
    build_root = os.path.join(root, ".bench_build")
    run_dir = None

    def stop(*_):
        if CHILD is not None and CHILD.poll() is None:
            CHILD.kill()
            CHILD.wait()
        if run_dir:
            shutil.rmtree(run_dir, ignore_errors=True)
        sys.exit(1)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    cp, archive = compile_all(root, build_root)
    run_dir = new_run_dir(build_root)
    cmd = java_cmd(run_dir, cp, f"-XX:SharedArchiveFile={archive}") + [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", a.trace, "--dir", run_dir]
    log_path = os.path.join(run_dir, "jvm.log")
    try:
        with open(log_path, "w") as log:
            code, out = run_child(cmd, JVM_LIMIT_S, stdout=subprocess.PIPE, stderr=log,
                                  text=True, cwd=run_dir)
        with open(log_path, errors="replace") as log:
            logged = log.read().splitlines()
        notes = [l for l in logged if l.startswith("[perfbench]")]
        for l in notes:
            print(l, file=sys.stderr)
        lines = [l for l in (out or "").splitlines() if l.startswith("{")]
        if code != 0 or not lines:
            why = "timed out" if code is None else f"exit code {code}"
            print(f"perfbench: run failed ({why}); last log lines:", file=sys.stderr)
            print("\n".join(logged[-40:]), file=sys.stderr)
            return 1
        print(lines[-1])
        return 0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
