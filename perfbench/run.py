#!/usr/bin/env python3
"""Run one benchmark workload against the program in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark from source with sbt on first use
(perfbench/build.sbt depends on the repository's root build), then runs
`perfbench.Main` in a fresh JVM. The last stdout line is the JSON result;
Spark's log goes to perfbench/target/logs/. Exits non-zero, printing no
result, when the build or the run fails.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "bench-classpath.txt")
WORKLOADS = ("ingest-small", "readback")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 720

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def newest_source_mtime():
    """Latest mtime over every input of the build."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            files.extend(os.path.join(d, n) for n in names)
    return max(os.path.getmtime(f) for f in files if os.path.isfile(f))


def run_limited(cmd, limit_s, **kw):
    """Run `cmd` in its own process group; kill the group past `limit_s`."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        proc.wait(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None
    return proc.returncode


def build():
    """Compile the program and the benchmark; cache the runtime classpath."""
    if os.path.isfile(CLASSPATH) and os.path.getmtime(CLASSPATH) >= newest_source_mtime():
        return
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS") or "-Xmx3g -Dsbt.offline=true"
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos) and "sbt.repository.config" not in opts:
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = opts + " -Dsbt.server.autostart=false"
    os.makedirs(os.path.join(TARGET, "logs"), exist_ok=True)
    log = os.path.join(TARGET, "logs", "build.log")
    with open(log, "w") as out:
        code = run_limited(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "export Runtime/fullClasspath"],
                           BUILD_LIMIT_S, cwd=HERE, env=env, stdout=out,
                           stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    with open(log) as f:
        lines = f.read().splitlines()
    cp = [l for l in lines if ".jar" in l and not l.startswith("[")]
    if code != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {code}); see {log}")
    with open(CLASSPATH, "w") as f:
        f.write(cp[-1].strip())


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no program sources next to the benchmark (expected {ROOT}/src/main/scala/graft)")
    build()
    with open(CLASSPATH) as f:
        cp = f.read().strip()

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(TARGET, "work", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(os.path.join(TARGET, "logs"), exist_ok=True)
    # a pinned heap keeps peak RSS from following the collector's sizing
    # choices; a fixed set of JIT compiler threads lets the benchmark
    # subtract their CPU exactly (Main.processCpuS)
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:-UseDynamicNumberOfCompilerThreads",
           "-Dspark.ui.enabled=false", f"-Djava.io.tmpdir={work}/tmp"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--work", work,
            "--cpus", str(len(os.sched_getaffinity(0)))]
    if a.trace == "1":
        cmd += ["--trace-out", os.path.join(TARGET, "traces", f"{tag}.jsonl")]
    out_path = os.path.join(work, "stdout.txt")
    try:
        with open(out_path, "w") as out, \
                open(os.path.join(TARGET, "logs", f"{tag}.log"), "w") as err:
            code = run_limited(cmd, RUN_LIMIT_S, cwd=ROOT, stdout=out, stderr=err,
                               stdin=subprocess.DEVNULL)
        with open(out_path) as f:
            lines = f.read().splitlines()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code is None:
        fail(f"run exceeded {RUN_LIMIT_S} s")
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        result = None
    if code != 0 or result is None:
        sys.stderr.write("\n".join(lines[-20:]) + "\n")
        fail(f"run failed (exit {code}); see perfbench/target/logs/{tag}.log")
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
