#!/usr/bin/env python3
"""Run one benchmark workload against the graft library in this checkout.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the library and the harness on first use (sbt, offline), then runs
the measured JVM with a fixed heap and thread budget. If that JVM finds the
workload's fixture missing or stale, the fixture is rebuilt in a JVM of its
own and the measured JVM runs again. The last line of
standard output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 1 reports the per-layer metrics instead of the end-to-end ones and
writes a Chrome trace and a self-time table under perfbench/target/bench/traces.
See perfbench/README.md.
"""
import argparse
import fcntl
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
STATE = os.path.join(TARGET, "bench")
CLASSPATH = os.path.join(TARGET, "runtime-classpath.txt")
WORKLOADS = ["video_scan", "frame_gather", "transcode", "corpus_dedup"]

# Thread budget for a 4-core host: 2 Spark task slots, 1 serial GC thread,
# 2 JIT compiler threads (tiered compilation's minimum), kept alive so the
# harness can subtract their CPU time. Fixed, not derived from the host, so
# every run measures the same configuration.
SLOTS = 2
HEAP = "2g"
JVM_FLAGS = [
    f"-Xms{HEAP}", f"-Xmx{HEAP}",
    "-XX:+UseSerialGC",
    "-XX:CICompilerCount=2", "-XX:-UseDynamicNumberOfCompilerThreads",
    "-XX:-UsePerfData",
]
# what Spark on JDK 17 needs outside spark-submit (same list as build.sbt)
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
         "java.base/java.lang.reflect", "java.base/java.io",
         "java.base/java.net", "java.base/java.nio",
         "java.base/java.util", "java.base/java.util.concurrent",
         "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs",
         "java.base/sun.security.action", "java.base/sun.util.calendar"]

RUN_LIMIT_S = 175      # a run must end within 180 s
BUILD_LIMIT_S = 880    # a run that builds first may take 900 s
FIXTURE_MISMATCH = 3   # harness exit code: fixture missing or stale


def die(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_stamp():
    """Hash of every file the build reads, so edits trigger a rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(deadline):
    """Compile library + harness once per source state; returns True if it built."""
    os.makedirs(TARGET, exist_ok=True)
    stamp_file = os.path.join(TARGET, "build.stamp")
    with open(os.path.join(TARGET, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = sources_stamp()
        if os.path.isfile(CLASSPATH) and os.path.isfile(stamp_file) \
                and open(stamp_file).read() == stamp:
            return False
        env = dict(os.environ, COURSIER_MODE="offline")
        opts = env.get("SBT_OPTS", "")
        if "-Dsbt.offline=true" not in opts:
            env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
        log_path = os.path.join(TARGET, "build.log")
        with open(log_path, "w") as log:
            # sbt runs from perfbench/, so it does not read the library's
            # .jvmopts; javac runs inside sbt's JVM and needs the Vector API
            # module to compile the library's SIMD kernels
            rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "-J--add-modules=jdk.incubator.vector", "writeClasspath"],
                           deadline, cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT)
        if rc != 0:
            with open(log_path) as log:
                sys.stderr.write("".join(log.readlines()[-30:]))
            die(f"build failed (exit {rc}); full log in {log_path}")
        with open(stamp_file, "w") as f:
            f.write(stamp)
        return True


def run_child(cmd, deadline, **kw):
    """Run a child in its own process group; kill the group at the deadline."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        die(f"timed out: {' '.join(cmd[:3])} ...")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def java_cmd(args):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(STATE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    props = [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
             f"-Dspark.sql.warehouse.dir={os.path.join(STATE, 'warehouse')}",
             f"-Dderby.system.home={os.path.join(STATE, 'derby')}",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    opens = [x for p in OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return [java] + JVM_FLAGS + opens + ["--add-modules=jdk.incubator.vector"] + props + \
        ["-cp", cp, "perfbench.Main"] + args


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiny", action="store_true", help="small inputs, for the smoke tests")
    ap.add_argument("--inject-fault", action="store_true",
                    help="corrupt every op's output before its check (negative tests)")
    a = ap.parse_args()
    start = time.monotonic()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die(f"no graft library next to the benchmark (expected {ROOT}/build.sbt "
            "and src/main/scala/graft)", 2)

    built = build(start + BUILD_LIMIT_S - 60)
    deadline = start + (BUILD_LIMIT_S if built else RUN_LIMIT_S)
    common = ["--workload", a.workload, "--seed", str(a.seed), "--state", STATE,
              "--slots", str(SLOTS)] + (["--tiny"] if a.tiny else [])

    def fixture():
        t0 = time.monotonic()
        rc = run_child(java_cmd(["fixture"] + common), deadline, stdout=sys.stderr)
        if rc != 0:
            die(f"fixture build failed (exit {rc})")
        return time.monotonic() - t0

    def measured():
        cmd = java_cmd(["run"] + common + ["--seconds", str(a.seconds), "--trace", str(a.trace)]
                       + (["--inject-fault"] if a.inject_fault else []))
        out_path = os.path.join(STATE, f"run-{os.getpid()}.out")
        with open(out_path, "w") as out:
            rc = run_child(cmd, deadline, stdout=out)
        with open(out_path) as f:
            lines = f.read().splitlines()
        os.remove(out_path)
        return rc, lines

    fixture_s = 0.0
    rc, lines = measured()
    if rc == FIXTURE_MISMATCH:
        print("perfbench: fixture missing or refused on open; building it and running again",
              file=sys.stderr)
        fixture_s = fixture()
        rc, lines = measured()
    if rc != 0 or not lines:
        die(f"harness exited with {rc}")
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError):
        die(f"harness printed no result line: {lines[-1][:200]!r}")
    for line in lines[:-1]:
        print(line)
    print("perfbench fixture " + json.dumps({"fixture_step_s": fixture_s, "sbt_built": built}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
