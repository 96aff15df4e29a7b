#!/usr/bin/env python3
"""Runs one graft benchmark workload and prints its result line.

    python3 perfbench/run.py --workload registry_sweep --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --selftest

Run it from the root of a checkout. It rebuilds the benchmark (graft's
sources plus perfbench/src) with sbt whenever any of them changed since
the last build, then starts one JVM with a local[nproc] Spark session.
A build ends with a run of the self-tests that records the classes they
load in a class-data-sharing archive; every later JVM maps it, which
halves the time to a live Spark session.
Every file the run writes, Spark's scratch space and java.io.tmpdir
included, goes under a fresh directory in .perfbench_work/ that is
deleted when the run ends. The last line of standard output is the
result: {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
With --trace 1 the result carries the per-layer metrics and the spans
of the traced pass are written to .perfbench_out/<workload>-<seed>-spans.jsonl.
Every untraced run appends its pass time, with its seed and the digest
of the sources it ran, to .perfbench_out/untraced.jsonl; a traced run
prints, before its result, the tracing overhead: its own pass time minus
the median of the untraced runs recorded for the same workload, seed and
sources (null when there are none).
"""
import json
import argparse
import contextlib
import hashlib
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
GRAFT_SRC = os.path.join(ROOT, "src", "main")
TARGET = os.path.join(BENCH, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "graftbench.stamp")
CDS_ARCHIVE = os.path.join(TARGET, "graftbench.jsa")
WORKLOADS = ("registry_sweep", "ios_convert", "table_commits")
DEADLINE_S = 175.0

# Spark 4 on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build compiles or configures, in a stable order."""
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for top in (GRAFT_SRC, os.path.join(BENCH, "src")):
        for d, subdirs, names in os.walk(top):
            subdirs.sort()
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_home_on_path():
    """The first Spark distribution on the PATH: a bin/spark-submit next to
    a jars/ directory (pip's pyspark wrapper scripts have none)."""
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(os.path.abspath(d or "."))
        if (os.path.isfile(os.path.join(d, "spark-submit"))
                and os.path.isdir(os.path.join(home, "jars"))):
            return home
    fail("set SPARK_HOME to a Spark 4.x distribution, or put its bin/ on the PATH")


def ensure_built():
    """Builds unless the classes on disk were built from these sources."""
    digest = source_digest()
    if os.path.isfile(CLASSPATH) and os.path.isfile(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return digest
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if not env.get("SPARK_HOME"):
        env["SPARK_HOME"] = spark_home_on_path()
    print("perfbench: sources changed since the last build; building", file=sys.stderr)
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "compile", "writeClasspath"],
                       cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0 or not os.path.isfile(CLASSPATH):
        fail(f"build failed (sbt exit {r.returncode})")
    with contextlib.suppress(FileNotFoundError):
        os.remove(CDS_ARCHIVE)
    with fresh_workdir() as work:
        code = run_jvm(["--selftest", "--bench", BENCH, "--work", work], work, 600,
                       [f"-XX:ArchiveClassesAtExit={CDS_ARCHIVE}"], sys.stderr)
    if code != 0:
        print(f"perfbench: the self-tests failed (exit {code})", file=sys.stderr)
    if not os.path.isfile(CDS_ARCHIVE):
        fail("the JVM wrote no class-data-sharing archive")
    with open(STAMP, "w") as fh:
        fh.write(digest)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return digest


def java_command(main_args, work, jvm_flags):
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # a fixed-size heap and the throughput collector: no heap resizing and
    # no concurrent GC threads competing with the task threads; the JVM's
    # own warnings go to stderr, so stdout carries only the result lines
    return (["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC",
             "-Xlog:disable", "-Xlog:all=warning:stderr",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
            + jvm_flags + opens + ["-cp", cp, "graftbench.Main"] + main_args)


def run_jvm(main_args, work, timeout, jvm_flags=None, out=sys.stdout):
    """Runs the JVM in its own process group; kills the group on timeout.
    It maps the class-data-sharing archive unless `jvm_flags` are given."""
    if jvm_flags is None:
        jvm_flags = [f"-XX:SharedArchiveFile={CDS_ARCHIVE}"]
    p = subprocess.Popen(java_command(main_args, work, jvm_flags), cwd=work,
                         stdout=out, stderr=sys.stderr, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"the JVM did not finish within {timeout:.0f} s")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")

    for need in (GRAFT_SRC, os.path.join(BENCH, "data"),
                 os.path.join(BENCH, "registry_sweep.tsv")):
        if not os.path.exists(need):
            fail(f"missing {os.path.relpath(need, ROOT)}: run from a full checkout of graft")
    # SIGTERM unwinds like an exception, so sbt and the JVM are killed too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    digest = ensure_built()
    t0 = time.time()  # the deadline excludes a build

    if a.selftest:
        with fresh_workdir() as work:
            sys.exit(run_jvm(["--selftest", "--bench", BENCH, "--work", work], work, 600))
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    log = os.path.join(out_dir, "untraced.jsonl")
    code, res = measure(a, bool(a.trace), log, digest, t0)
    pass_s = res.pop("pass_s")
    if a.trace:
        past = recorded_passes(log, a.workload, a.seed, digest)
        overhead = {"traced_pass_s": pass_s, "untraced_runs": len(past),
                    "untraced_pass_p50_s": statistics.median(past) if past else None,
                    "overhead_s": pass_s - statistics.median(past) if past else None}
        print(json.dumps({"trace_overhead": overhead}))
    sys.stdout.flush()
    print(json.dumps(res))
    sys.exit(0 if code == 0 else 1)


@contextlib.contextmanager
def fresh_workdir():
    """A new directory under .perfbench_work/, deleted on exit."""
    root = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(root, exist_ok=True)
    work = os.path.join(root, f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(os.path.join(work, "tmp"))
    try:
        yield work
    finally:
        shutil.rmtree(work, ignore_errors=True)


def recorded_passes(log, workload, seed, digest):
    """Pass times of the untraced runs of this workload and seed on these sources."""
    if not os.path.isfile(log):
        return []
    with open(log) as fh:
        rows = [json.loads(l) for l in fh if l.strip()]
    return [r["pass_s"] for r in rows
            if (r.get("workload"), r.get("seed"), r.get("digest")) == (workload, seed, digest)]


def measure(a, trace, log, digest, t0):
    """One JVM run; returns its exit code and parsed result."""
    with fresh_workdir() as work:
        result = os.path.join(work, "result.json")
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", "1" if trace else "0", "--bench", BENCH, "--work", work,
                "--result", result]
        if trace:
            args += ["--spans", os.path.join(ROOT, ".perfbench_out",
                                             f"{a.workload}-{a.seed}-spans.jsonl")]
        code = run_jvm(args, work, DEADLINE_S - (time.time() - t0))
        if not os.path.isfile(result):
            fail(f"the JVM exited with code {code} and wrote no result")
        with open(result) as fh:
            res = json.load(fh)
    if not trace and code == 0:
        with open(log, "a") as fh:
            fh.write(json.dumps({"workload": a.workload, "seed": a.seed, "digest": digest,
                                 "pass_s": res["pass_s"]}) + "\n")
    return code, res

if __name__ == "__main__":
    main()
