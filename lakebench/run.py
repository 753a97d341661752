#!/usr/bin/env python3
"""Run one lakebench workload and print its result as the last stdout line.

    python3 lakebench/run.py --workload cdc_cow --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt (lakebench/build.sbt) and caches the
resulting classpath under .bench_build/, keyed by a hash of every source
and build file, so later runs start the JVM directly. Each run works in a
fresh directory under .bench_build/ and removes it when it ends.

The exit code is 0 only if every operation and output check passed.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
WORKLOADS = ("cdc_cow", "graph_rank")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

# Spark on JDK 17 needs these outside spark-submit (the engine's build.sbt
# passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"lakebench: {msg}", file=sys.stderr, flush=True)


def source_hash():
    """Hash of every file the build reads from the checkout."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties"),
             os.path.abspath(__file__)]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def classpath():
    """Build once per source state; return the runtime classpath (jars only,
    which the class-data archive below requires)."""
    cache = os.path.join(BUILD_DIR, f"classpath-{source_hash()}.txt")
    if os.path.exists(cache):
        with open(cache) as fh:
            return fh.read().strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    for f in os.listdir(BUILD_DIR):  # outputs of earlier source states
        if f.startswith(("classpath-", "classes-")):
            os.remove(os.path.join(BUILD_DIR, f))
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log("building engine and benchmark with sbt (first run in this checkout)")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "export lakebench/Runtime/fullClasspathAsJars"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S)
    lines = [ln for ln in p.stdout.splitlines()
             if ln and not ln.startswith("[") and os.pathsep in ln]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        log(f"build failed (exit {p.returncode})")
        sys.exit(3)
    log(f"build took {time.time() - t0:.0f} s")
    with open(cache, "w") as fh:
        fh.write(lines[-1])
    return lines[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log(f"no engine sources at {ROOT} (build.sbt, src/main/scala/graft)")
        sys.exit(2)

    cp = classpath()
    work = os.path.join(BUILD_DIR, f"work-{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # A class-data archive of the classes the first run loads makes every
    # later JVM start faster; it touches start-up only, not compiled code.
    jsa = os.path.join(BUILD_DIR, f"classes-{source_hash()}.jsa")
    cds = (f"-XX:SharedArchiveFile={jsa}" if os.path.exists(jsa)
           else f"-XX:ArchiveClassesAtExit={jsa}")
    cmd = (["java", "-Xms2g", "-Xmx2g", cds, "-Xshare:auto", "-Xlog:disable", "-Xlog:all=warning:stderr",
            f"-Djava.io.tmpdir={work}/tmp",
            f"-Dspark.local.dir={work}/tmp", f"-Dspark.sql.warehouse.dir={work}/warehouse",
            f"-Dderby.system.home={work}", "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "lakebench.Main", "--workload", a.workload,
              "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", work])
    try:
        p = subprocess.run(cmd, cwd=work, stdout=subprocess.PIPE, text=True,
                           timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        log(f"run exceeded {JVM_TIMEOUT_S} s and was stopped")
        sys.exit(4)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result = None
    for line in p.stdout.splitlines():
        if line.startswith("LAKEBENCH_RESULT "):
            result = json.loads(line[len("LAKEBENCH_RESULT "):])
        else:
            print(line)
    if result is None:
        log(f"no result (exit {p.returncode})")
        sys.exit(p.returncode or 1)
    for name, m in result["metrics"].items():
        log(f"{name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps(result), flush=True)
    sys.exit(p.returncode)


if __name__ == "__main__":
    main()
