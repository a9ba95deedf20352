#!/usr/bin/env python3
"""Workload benchmark for the Spark library in this repository.

Run from the root of a checkout:

    python3 perfbench/run.py --workload dashboard_read --seed 1 --seconds 15 --trace 0

Builds the library and the benchmark from source with sbt the first time
(and again whenever a source changes), then runs one workload in a fresh
JVM. Prints each metric by name with its unit and, as the last line of
standard output, one JSON object with the keys correct, attempted, failed
and metrics. Exits non-zero when the build, the run or a correctness check
fails. See perfbench/NOTES.md.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, "target", "perfbench-build")
WORKLOADS = ("dashboard_read", "mv_ingest", "corpus_dedup")
RUN_TIMEOUT_S = 170

# Spark on JDK 17 needs these outside spark-submit (as in the library's own
# build.sbt for forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(f[len(ROOT):].encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles with sbt unless the recorded stamp matches; returns the classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"]
    p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL, text=True, timeout=800)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    lines = [ln.strip() for ln in p.stdout.splitlines()
             if ".jar" in ln and os.pathsep in ln and not ln.startswith("[")]
    if not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("build printed no classpath")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def heap_size():
    """Half the machine's memory, between 2 and 4 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(ln for ln in f if ln.startswith("MemTotal:")).split()[1])
        return f"{max(2, min(4, kb // 2 // 1024 // 1024))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("the library's sources (build.sbt, src/main/scala/graft) are not beside perfbench/")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are needed on PATH")

    classpath = build()
    work = os.path.join(HERE, "target", "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    trace_out = os.path.join(HERE, "target", "traces", f"{args.workload}-seed{args.seed}.jsonl")
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Dfile.encoding=UTF-8", "-Dsun.jnu.encoding=UTF-8", f"-Xmx{heap_size()}",
        "-XX:+UseG1GC", "-cp", classpath, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--work", work, "--cpus", str(os.cpu_count() or 1),
        "--trace-out", trace_out,
    ]
    try:
        p = subprocess.run(cmd, cwd=work, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                           text=True, timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    shutil.rmtree(work, ignore_errors=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    if not lines:
        fail(f"the run printed no result (exit {p.returncode})")
    result = json.loads(lines[-1])
    print(f"{args.workload} seed={args.seed} trace={args.trace} correct={result['correct']} "
          f"attempted={result['attempted']} failed={result['failed']}")
    for name, m in result["metrics"].items():
        print(f"  {name:40s} {m['value']:>16.4f} {m['unit']}")
    if args.trace:
        print(f"  spans written to {os.path.relpath(trace_out, ROOT)}")
    print(json.dumps(result))
    sys.exit(0 if p.returncode == 0 and result["correct"] else 1)


if __name__ == "__main__":
    main()
