#!/usr/bin/env python3
"""Benchmark of graft's north-rule graph path; see perfbench/README.md.

Run from the repository root, e.g.

    python3 perfbench/run.py --workload iterate --seed 1 --seconds 10 --trace 0 \
        --path-skew 0.0 ...   (generator flags as in BENCHMARK.json)

Steps: build the program and the benchmark from source (once per source
digest, under .bench_build/), generate the seed's input (once per seed and
profile), then measure the workload in a fresh JVM. The JVM prints a record
line and, last, the result line.
"""
import argparse
import hashlib
import os
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(BENCH)
BUILD = os.path.join(CHECKOUT, ".bench_build")
PROGRAM = os.path.join(CHECKOUT, "src", "main", "scala", "graft")
WORKLOADS = ("build", "iterate", "triangles", "checkpointed")
GENERATOR_FLAGS = {  # flag -> type; values come from the command line
    "path-skew": float, "hub-path-skew": float,
    "content-median": int, "content-alpha": float,
}
HEAP = "3g"  # pinned: -Xms = -Xmx, so GC behaviour does not depend on host memory
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
MISSING_INPUT = 3  # Main.MissingInput
BUILD_TIMEOUT_S = 850
JVM_TIMEOUT_S = 170


class Stopped(Exception):
    """Raised by SIGTERM/SIGINT; subprocess.run then kills and reaps its child."""


def stop(signum, _frame):
    raise Stopped(signal.Signals(signum).name)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def digest(*roots):
    """SHA-256 over the files under `roots`, with their paths."""
    h = hashlib.sha256()
    for root in roots:
        files = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for path in files:
            h.update(os.path.relpath(path, CHECKOUT).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def git_head():
    """HEAD commit when the checkout is a git work tree, else ''."""
    git = os.path.join(CHECKOUT, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        ref_file = os.path.join(git, ref)
        if os.path.exists(ref_file):
            with open(ref_file) as f:
                return f.read().strip()
        with open(os.path.join(git, "packed-refs")) as f:
            for line in f:
                if line.rstrip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        pass
    return ""


def classpath(digest):
    """Compile with sbt when the sources changed; return the runtime classpath."""
    cp_file = os.path.join(BUILD, f"classpath-{digest[:16]}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    log("building the program and the benchmark with sbt")
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True,
        timeout=BUILD_TIMEOUT_S)
    sys.stderr.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines() if l and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        log(f"build failed (exit {proc.returncode})")
        sys.exit(3)
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    return lines[-1]


def jvm(cp, mode, args):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    tmp = os.path.join(BUILD, "tmp", "java")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", mode] + args
    # SPARK_LOCAL_DIRS would override spark.local.dir and put shuffle files
    # outside the checkout
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    # stdout passes straight through; the JVM's last line is the result
    return subprocess.run(cmd, cwd=CHECKOUT, stdin=subprocess.DEVNULL, env=env,
                          timeout=JVM_TIMEOUT_S).returncode


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    for flag, kind in GENERATOR_FLAGS.items():
        ap.add_argument(f"--{flag}", required=True, type=kind)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)

    if not os.path.isdir(PROGRAM):
        log(f"the program's sources are missing: no {os.path.relpath(PROGRAM, CHECKOUT)}")
        return 2
    bench_src = os.path.join(BENCH, "src", "main")
    sources = digest(os.path.join(CHECKOUT, "src", "main"), bench_src,
                     os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties"))
    cores = min(4, len(os.sched_getaffinity(0)))
    # cached inputs are keyed by the benchmark's own sources (generator and
    # oracle), never by the program's
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--root", BUILD, "--cores", str(cores),
            "--source-digest", sources, "--input-version", digest(bench_src)[:12],
            "--git-head", git_head()]
    for flag in GENERATOR_FLAGS:
        args += [f"--{flag}", str(getattr(a, flag.replace("-", "_")))]
    try:
        cp = classpath(sources)
        code = jvm(cp, "run", args)
        if code == MISSING_INPUT:  # first run of this seed: prepare, then measure
            code = jvm(cp, "prepare", args)
            if code != 0:
                log(f"input preparation failed (exit {code})")
                return code
            code = jvm(cp, "run", args)
        return code
    except subprocess.TimeoutExpired as e:
        log(f"timed out: {e}")
        return 4
    except Stopped as e:
        log(f"stopped by {e}")
        return 5


if __name__ == "__main__":
    sys.exit(main())
