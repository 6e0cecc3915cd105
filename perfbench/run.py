#!/usr/bin/env python3
"""Build graft and the benchmark from source, then run one workload.

Usage (from the root of a graft checkout):

    python3 perfbench/run.py --workload kairos_store --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

The last line of standard output is the result object
{"correct", "attempted", "failed", "metrics"}; the line before it holds
the run conditions and the per-workload detail. Everything else (build
and Spark logs) goes to standard error.

The program under test is compiled from `src/main/scala` with the Scala
compiler that ships in Spark's `jars/` directory, so no build tool runs.
Builds are cached in `$CARGO_TARGET_DIR` (default `.bench_build`) under
a hash of every source file, so only the first run in a checkout builds.
"""
import argparse
import glob
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("kairos_store", "curation_batch", "stream_ingest")
# A run must end within 180 s; the JVM gets what is left after the build.
RUN_LIMIT_S = 170
HEAP = "3g"
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        exe = shutil.which("spark-submit") or shutil.which("spark-shell")
        if exe:
            home = os.path.dirname(os.path.dirname(os.path.realpath(exe)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        sys.exit("perfbench: Spark jars with scala-compiler not found; set SPARK_HOME")
    return jars


def sources(root):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def scalac(jars, classpath, out_dir, srcs, deadline):
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", classpath] + srcs
    t0 = time.time()
    subprocess.run(cmd, check=True, stdout=sys.stderr,
                   timeout=max(30, deadline - time.time()))
    os.replace(tmp, out_dir)
    log(f"compiled {len(srcs)} files into {out_dir} in {time.time() - t0:.1f}s")


def build(jars, build_dir, deadline):
    """Compile graft, then the benchmark; returns the runtime classpath."""
    graft_src = sources("src/main/scala")
    if not graft_src:
        sys.exit("perfbench: no graft sources under src/main/scala; "
                 "run from the root of a graft checkout")
    bench_src = sources(os.path.join(HERE, "scala"))
    jar_cp = os.path.join(jars, "*")
    graft_dir = os.path.join(build_dir, "graft-" + digest(graft_src))
    if not os.path.isdir(graft_dir):
        scalac(jars, jar_cp, graft_dir, graft_src, deadline)
    bench_dir = os.path.join(
        build_dir, "bench-" + digest(bench_src) + "-" + os.path.basename(graft_dir))
    if not os.path.isdir(bench_dir):
        scalac(jars, graft_dir + os.pathsep + jar_cp, bench_dir, bench_src, deadline)
    return os.pathsep.join([bench_dir, graft_dir, jar_cp])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="run the benchmark's own helper tests instead")
    ap.add_argument("--record-golden", action="store_true",
                    help="curation_batch: write the golden digests instead of checking them")
    args = ap.parse_args()
    if not args.selftest and not args.workload:
        ap.error("--workload is required")
    if not os.path.isdir("src/main/scala"):
        sys.exit("perfbench: run from the root of a graft checkout (src/main/scala missing)")

    started = time.time()
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    jars = spark_jars()
    # a cold build may take most of the first run's allowance; later
    # runs find it cached
    classpath = build(jars, build_dir, started + 800)

    work = os.path.join(build_dir, "work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # a fixed, pre-touched heap is resident in full from the start, so
    # peak RSS minus the heap is the native memory the run used
    # (metaspace, code cache, thread stacks, buffers), whatever the
    # collector did; few malloc arenas keep that figure steady.
    # System.gc() is a blocking full collection (the default), so the
    # benchmark's untimed collections finish before the next timed call
    env = dict(os.environ, MALLOC_ARENA_MAX="2")
    jvm = ["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+AlwaysPreTouch", "-Xss4m", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + work,
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
    for p in JDK_OPENS:
        jvm += ["--add-opens", p + "=ALL-UNNAMED"]
    if args.record_golden:
        jvm.append("-Dgraftbench.recordGolden=1")
    jvm += ["-cp", classpath]
    if args.selftest:
        cmd = jvm + ["graftbench.SelfTest"]
    else:
        cmd = jvm + ["graftbench.Main", "--workload", args.workload,
                     "--seed", str(args.seed), "--seconds", str(args.seconds),
                     "--trace", str(args.trace), "--work", work,
                     "--data", os.path.join(HERE, "data"),
                     "--golden", os.path.join(HERE, "golden"),
                     "--spans", os.path.join(build_dir, "spans")]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env,
                            start_new_session=True)

    def stop(signum=None, frame=None):
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        if signum is not None:
            sys.exit(f"perfbench: stopped by signal {signum}")

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=max(20, RUN_LIMIT_S - (time.time() - started)))
    except subprocess.TimeoutExpired:
        stop()
        sys.exit("perfbench: run exceeded its time limit")
    stop()
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(out)
        sys.exit(f"perfbench: benchmark JVM exited with code {proc.returncode}")
    print("\n".join(lines), flush=True)


if __name__ == "__main__":
    main()
