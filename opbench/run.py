#!/usr/bin/env python3
"""graft benchmark runner.

Usage (from the root of a checkout):
    python3 opbench/run.py --workload <etl_batch|index_probe>
        --seed <n> --seconds <s> --trace <0|1>

Builds the benchmark program (opbench/build.sbt, which compiles graft from
this checkout's sources) when its sources changed since the last build,
then runs ONE fresh JVM for the measurement and relays its output. The
last stdout line is the result JSON. Every run gets its own scratch
directory under opbench/.work, used as the JVM's temp dir and Spark's
local dir, and deleted at exit; nothing is written outside the checkout.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "build.stamp")
WORKLOADS = ("etl_batch", "index_probe")
BUILD_TIMEOUT_S = 800
RUN_TIMEOUT_S = 170

# build.sbt's javaOptions, mirrored: module opens for Spark on JDK 17,
# UTF-8 (without it non-BMP text is corrupted), a 1g code cache, and a
# fixed heap. Perf data is off so the JVM writes nothing to /tmp. A run is
# about a minute of a cold JVM on 4 vCPUs: C1-only compilation keeps C2's
# background compiles from competing with the measured work, and cuts run
# time by 10-15%, which the run budget needs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
JAVA_OPTS = [o for p in ADD_OPENS for o in ("--add-opens", p + "=ALL-UNNAMED")] + [
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
    "-Dfile.encoding=UTF-8",
    "-Dsun.jnu.encoding=UTF-8",
    "-Xms2g",
    "-Xmx2g",
    "-XX:ReservedCodeCacheSize=1g",
    "-XX:-UsePerfData",
    "-XX:TieredStopAtLevel=1",
]
# environment knobs that would change the session or where Spark writes
DROP_ENV_PREFIXES = ("SPARK_GRAFT_",)
DROP_ENV = ("SPARK_LOCAL_DIRS", "SPARK_CONF_DIR", "SPARK_MASTER",
            "JAVA_TOOL_OPTIONS", "_JAVA_OPTIONS", "JDK_JAVA_OPTIONS")

_child = None


def log(msg):
    print(f"[opbench] {msg}", file=sys.stderr, flush=True)


def kill_child(*_):
    if _child is not None and _child.poll() is None:
        try:
            os.killpg(_child.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        _child.wait()


def on_signal(signum, _frame):
    kill_child()
    sys.exit(128 + signum)


def run_child(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout."""
    global _child
    _child = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = _child.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        kill_child()
        raise
    finally:
        code = _child.returncode
        _child = None
    return code, out


def sources_stamp():
    """Content hash of everything the build compiles."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, dirs, names in os.walk(base):
            dirs.sort()
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(stamp):
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx3g")
    # sbt's own scratch files go under target/, not the system temp dir
    tmp = os.path.join(TARGET, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = f"{env.get('SBT_OPTS', '')} -Djava.io.tmpdir={tmp}".strip()
    log("building the benchmark program and graft (sbt writeClasspath)")
    t0 = time.time()
    code, _ = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                        BUILD_TIMEOUT_S, cwd=HERE, env=env,
                        stdout=sys.stderr, stderr=sys.stderr, stdin=subprocess.DEVNULL)
    if code != 0 or not os.path.exists(CLASSPATH):
        log(f"build failed (exit {code})")
        sys.exit(2)
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            log(f"{need} not found next to {os.path.basename(HERE)}/: "
                "run from the root of a graft checkout")
            sys.exit(2)
    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)

    stamp = sources_stamp()
    built = open(STAMP).read() if os.path.exists(STAMP) else None
    if built != stamp or not os.path.exists(CLASSPATH):
        build(stamp)
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()

    work = os.path.join(HERE, ".work", f"run-{os.getpid()}-{time.time_ns()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    try:
        argfile = os.path.join(work, "jvm.args")
        with open(argfile, "w") as fh:
            fh.write('-cp "%s"\n' % cp.replace("\\", "\\\\"))
        env = {k: v for k, v in os.environ.items()
               if k not in DROP_ENV and not k.startswith(DROP_ENV_PREFIXES)}
        env["SPARK_LOCAL_IP"] = "127.0.0.1"
        cmd = ["java", *JAVA_OPTS, f"-Djava.io.tmpdir={tmp}",
               f"-Dspark.local.dir={os.path.join(work, 'local')}",
               f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
               f"@{argfile}", "graftbench.Main",
               "--workload", a.workload, "--seed", str(a.seed),
               "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work]
        try:
            code, out = run_child(cmd, RUN_TIMEOUT_S, cwd=work, env=env,
                                  stdout=subprocess.PIPE, stderr=sys.stderr,
                                  stdin=subprocess.DEVNULL, text=True)
        except subprocess.TimeoutExpired:
            log(f"run exceeded {RUN_TIMEOUT_S} s")
            sys.exit(5)
        lines = out.splitlines()
        leftover = len(os.listdir(tmp))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's directory is still there
    for line in lines[:-1]:
        print(line)
    if code != 0 or not lines:
        log(f"graftbench exited {code}")
        sys.exit(code or 1)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        log("graftbench printed no result")
        sys.exit(1)
    # graft's scratch dirs land in the run's temp dir; count what is left
    print(f"diag tmp_leftover_entries={leftover}")
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
