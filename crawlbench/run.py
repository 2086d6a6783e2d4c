#!/usr/bin/env python3
"""Crawl benchmark: one closed-loop run of one workload.

    python3 crawlbench/run.py --workload polite --seed 7 --seconds 20 --trace 0

Run from the repository root. The first run compiles the engine sources
(src/main/scala) together with the benchmark program (crawlbench/src) with
sbt; later runs reuse the build while the sources are unchanged. The program
runs in one JVM at local[nproc], generates its inputs from --seed, crawls
until --seconds are used, checks every crawl against the reference oracle,
and prints the metrics; the last stdout line is one JSON object with keys
correct, attempted, failed and metrics. --trace 1 reports the per-layer
metrics instead and writes the span tree to crawlbench/out/.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "4g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print("crawlbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_digest():
    h = hashlib.sha256()
    dirs = [ENGINE_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names if n.endswith(".scala")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless the classpath file matches the sources."""
    target = os.path.join(HERE, "target")
    cp_file = os.path.join(target, "classpath.txt")
    stamp = os.path.join(target, "sources.sha256")
    digest = source_digest()
    if os.path.exists(cp_file) and os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read().strip() == digest:
                with open(cp_file) as cf:
                    return cf.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.repository.config=%s "
                   "-Dsbt.offline=true -Xmx2g" % os.path.expanduser("~/.sbt/repositories"))
    try:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "benchClasspath"],
                           cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                           timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if r.returncode != 0 or not os.path.exists(cp_file):
        fail("build failed (rc %d)" % r.returncode)
    with open(stamp, "w") as fh:
        fh.write(digest)
    with open(cp_file) as cf:
        return cf.read().strip()


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 and r.stdout.strip() else "none"
    except (OSError, subprocess.TimeoutExpired):
        return "none"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail("engine sources not found under %s; run from the repository root" % ENGINE_SRC)
    cp = build()

    work = os.path.join(HERE, "work", "%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(HERE, "out", "trace-%s-s%d.json" % (args.workload, args.seed))
    cmd = ["java", "-Xmx" + HEAP, "-Djava.io.tmpdir=" + tmp,
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "crawlbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", args.trace,
            "--workdir", work, "--out", out, "--commit", git_commit()]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    lines = []
    try:
        out_text, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        lines = out_text.splitlines()
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail("run exceeded %d s" % RUN_TIMEOUT_S)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{\"correct\""):
        sys.stdout.write("\n".join(lines[:-1] if lines else []) + "\n")
        fail("benchmark JVM failed (rc %d)" % proc.returncode)
    sys.stdout.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    main()
