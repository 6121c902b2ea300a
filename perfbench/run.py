#!/usr/bin/env python3
"""Run one workload of the engine benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the library and
the benchmark from source with sbt (the benchmark's own build in this
directory depends on the enclosing build); later runs reuse the build
while no source file changed. The JVM prints one compact JSON line
last; this script relays it as its own last stdout line. The full
trace and the JVM's logs go to perfbench/out/.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(BENCH, "out")
CLASSPATH = os.path.join(BENCH, "target", "perfbench-classpath.txt")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
# A fixed-size heap under the throughput collector: the peak resident
# set then reflects the workload, not the collector's heap-growth choices.
JVM_OPTS = ["-XX:+UseParallelGC", "-Xms2g", "-Xmx2g"]
WORKLOADS = ("live_edits", "nightly")

# Spark on JDK 17 outside spark-submit needs these (the library's own
# build passes the same list to its forked JVMs).
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_fingerprint():
    """Hash of every build input's path, size and mtime."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
                os.path.join(BENCH, "src", "main"), os.path.join(BENCH, "project")):
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        st = os.stat(p)
        h.update(f"{os.path.relpath(p, ROOT)}|{st.st_size}|{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def run_group(cmd, cwd, timeout, stdout, stderr):
    """Run cmd in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=stderr,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build():
    """The runtime classpath, building first when any source changed."""
    fp = source_fingerprint()
    if os.path.exists(CLASSPATH):
        with open(CLASSPATH) as f:
            stamp, cp = f.read().split("\n", 1)
        if stamp == fp:
            return cp.strip()
    log_path = os.path.join(OUT, "build.log")
    with open(log_path, "w") as log:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "export Runtime/fullClasspath"],
                       BENCH, BUILD_TIMEOUT_S, log, subprocess.STDOUT)
    with open(log_path) as log:
        lines = [l.strip() for l in log if l.strip()]
    cp = lines[-1] if lines else ""
    if rc != 0 or "perfbench" not in cp or " " in cp:
        fail(f"build failed (exit {rc}); see {log_path}")
    os.makedirs(os.path.dirname(CLASSPATH), exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(fp + "\n" + cp + "\n")
    return cp


def main():
    # a terminated run must not leave its sbt or JVM process group behind
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no library sources next to the benchmark (expected build.sbt "
             f"and src/main/scala in {ROOT})")
    os.makedirs(OUT, exist_ok=True)
    cp = build()

    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += JVM_OPTS + [
        f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
        f"-Dspark.hadoop.hadoop.tmp.dir={tmp}", "-cp", cp, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--out", OUT]
    tag = f"{args.workload}-seed{args.seed}-t{args.trace}"
    out_path = os.path.join(OUT, f"stdout-{tag}.log")
    err_path = os.path.join(OUT, f"stderr-{tag}.log")
    t0 = time.time()
    with open(out_path, "w") as out, open(err_path, "w") as err:
        rc = run_group(cmd, ROOT, RUN_TIMEOUT_S, out, err)
    if rc != 0:
        fail(f"workload {'timed out' if rc is None else f'exited {rc}'} after "
             f"{time.time() - t0:.0f}s; see {err_path}", 3)
    with open(out_path) as f:
        lines = [l.strip() for l in f if l.strip()]
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        fail(f"no result line; see {out_path}", 4)
    print(lines[-1])


if __name__ == "__main__":
    main()
