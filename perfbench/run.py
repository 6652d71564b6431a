#!/usr/bin/env python3
"""Benchmark entry point: builds the engine and the harness from source,
runs one workload in one JVM and prints one JSON result line last.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload corpus|kmeans \
        --seed N --seconds S --trace 0|1

`--pin` rewrites `perfbench/expected/<workload>.tsv` with the result
digests of the current build instead of measuring. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
HARNESS = os.path.join(HERE, "harness")
# Cores each workload leaves free of Spark task slots. The driver thread
# and the JIT compiler threads, which stay busy for a whole `corpus` run
# (Spark compiles new classes in every pass), get two there; `kmeans` is
# task-bound and its JIT settles sooner.
FREE_CORES = {"corpus": 2, "kmeans": 1}
WORKLOADS = tuple(FREE_CORES)
HEAP = "3g"
# Spark on JDK 17 outside spark-submit needs these module openings
# (org.apache.spark.launcher.JavaModuleOptions); the engine's build.sbt
# passes the same list.
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
         "java.base/java.lang.reflect", "java.base/java.io",
         "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent",
         "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
         "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the build reads, so a changed source rebuilds."""
    paths = []
    for top in ("build.sbt", "project", os.path.join("src", "main"),
                os.path.join("perfbench", "harness")):
        full = os.path.join(ROOT, top)
        if os.path.isfile(full):
            paths.append(full)
        for dirpath, dirnames, files in os.walk(full):
            # sbt's own outputs: target/ and the meta-build's project/project
            dirnames[:] = sorted(
                d for d in dirnames if d != "target" and not (
                    d == "project" and os.path.basename(dirpath) == "project"))
            paths += [os.path.join(dirpath, f) for f in sorted(files)]
    h = hashlib.sha256()
    for path in paths:
        h.update(os.path.relpath(path, ROOT).encode() + b"\0")
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles engine and harness with sbt unless the sources are
    unchanged since the last build; returns the runtime classpath."""
    stamp_file = os.path.join(OUT, "build.stamp")
    cp_file = os.path.join(OUT, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building engine and harness with sbt")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HARNESS, env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=600)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("build failed")
    lines = [l for l in p.stdout.splitlines()
             if ".jar" in l and not l.startswith("[")]
    if not lines:
        raise SystemExit("build printed no classpath")
    log(f"built in {time.time() - t0:.0f} s")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", action="store_true")
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"no engine sources: {need} is missing")
    os.makedirs(OUT, exist_ok=True)
    classpath = build()

    nproc = len(os.sched_getaffinity(0))
    slots = max(1, nproc - FREE_CORES[a.workload])
    work = os.path.join(OUT, "work", f"{a.workload}-{a.seed}-{a.trace}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for m in OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    # A fixed set of JIT compiler threads, whose CPU time the harness
    # keeps out of cpu_s.
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}",
            "-XX:-UseDynamicNumberOfCompilerThreads",
            f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--slots", str(slots), "--work", work,
            "--data", os.path.join(HERE, "data"),
            "--expected", os.path.join(HERE, "expected", f"{a.workload}.tsv")]
    if a.pin:
        cmd.append("--pin")
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(slots))
    # setup_s counts from here: the JVM's launch, not the build before it
    cmd += ["--launched-ms", str(int(time.time() * 1000))]
    errlog = os.path.join(OUT, f"{a.workload}-{a.seed}-{a.trace}.log")
    with open(errlog, "w") as err:
        p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                             stdout=subprocess.PIPE, stderr=err, text=True)
        try:
            out, _ = p.communicate(timeout=170)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"harness timed out; see {errlog}")
        finally:
            # also on SIGTERM (see main) or any error: no JVM outlives us
            if p.poll() is None:
                p.kill()
                p.wait()
    if p.returncode != 0:
        with open(errlog) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"harness exited with {p.returncode}")
    if a.pin:
        return
    print(json.dumps(json.loads(out.strip().splitlines()[-1])))


if __name__ == "__main__":
    main()
