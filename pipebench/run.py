#!/usr/bin/env python3
"""Pipeline benchmark launcher.

Builds the benchmark (which compiles the pipeline from the repository's own
build), then runs one workload in a fresh JVM and prints every metric by name
and unit; the last line of standard output is the result as one JSON object.

    python3 pipebench/run.py --workload revise_read --seed 1 --seconds 10 --trace 0
    python3 pipebench/run.py --selftest

Run from the repository root. Builds are offline and cached under
pipebench/target, keyed by a hash of every source they compile.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
JVM_OPTS = [
    "-Xms2g", "-Xmx2g",
    "-Duser.timezone=UTC",
    "-Dspark.ui.enabled=false",
] + [
    arg
    for pkg in [
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar",
    ]
    for arg in ("--add-opens", f"java.base/{pkg}=ALL-UNNAMED")
]
# what a build compiles: the program's build and sources, and the benchmark's
BUILD_INPUTS = [
    (ROOT, ["build.sbt", "project/build.properties", "src/main"]),
    (HERE, ["build.sbt", "project/build.properties", "src/main"]),
]


def fail(msg):
    print(f"pipebench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    h = hashlib.sha256()
    for base, entries in BUILD_INPUTS:
        for entry in entries:
            path = os.path.join(base, entry)
            if os.path.isfile(path):
                files = [path]
            else:
                files = sorted(
                    os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
            for f in files:
                h.update(os.path.relpath(f, ROOT).encode())
                with open(f, "rb") as fh:
                    h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    """sbt never reaches the network: resolution is offline, from the
    local caches the toolchain already holds."""
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = env.get("SBT_OPTS", "").split()
    for flag in ("-Dsbt.offline=true", "-Dsbt.override.build.repos=true"):
        if flag not in opts:
            opts.append(flag)
    env["SBT_OPTS"] = " ".join(opts)
    return env


def run_group(cmd, cwd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout kill the whole group
    and wait for it, so nothing outlives the benchmark."""
    p = subprocess.Popen(cmd, cwd=cwd, start_new_session=True, **kw)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail(f"{cmd[0]} did not finish within {timeout} s")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise
    return p.returncode, out, err


def build():
    """Compile once per source state; returns the runtime classpath."""
    stamp = os.path.join(HERE, "target", "build.stamp")
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    digest = source_hash()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read().strip() == digest:
                with open(cp_file) as cf:
                    return cf.read().strip()
    code, out, _ = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"], HERE,
        BUILD_TIMEOUT_S, env=sbt_env(), stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True)
    if code != 0:
        sys.stderr.write(out)
        fail(f"build failed (sbt exit {code})")
    with open(stamp, "w") as fh:
        fh.write(digest + "\n")
    with open(cp_file) as cf:
        return cf.read().strip()


def jvm_env():
    """Spark's scratch stays under the work directory, not a host-wide
    SPARK_LOCAL_DIRS."""
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)
    return env


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def main():
    # a terminated launcher still kills and reaps its JVM (see run_group)
    signal.signal(signal.SIGTERM, lambda signum, _: sys.exit(128 + signum))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="run the benchmark's own tests and exit")
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "src/main/scala/graft/pipeline/Pipeline.scala")):
        fail(f"no pipeline sources under {ROOT}; run from a checkout of the repository")
    if a.selftest:
        code, _, _ = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "test"],
                               HERE, BUILD_TIMEOUT_S, env=sbt_env())
        sys.exit(code)
    if a.workload is None or a.seed is None or a.seconds is None:
        ap.error("--workload, --seed and --seconds are required")

    classpath = build()
    work_root = os.path.join(HERE, "work")
    work = os.path.join(work_root, f"{a.workload}-{a.seed}-{os.getpid()}")
    result = work + ".result.json"
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    try:
        code, out, _ = run_group(
            [java()] + JVM_OPTS + [f"-Djava.io.tmpdir={work}/tmp",
             f"-Dlog4j2.configurationFile={HERE}/log4j2.properties", "-cp", classpath,
             "pipebench.Main", "--workload", a.workload, "--seed", str(a.seed),
             "--seconds", str(a.seconds), "--trace", str(a.trace),
             "--work", work, "--result", result],
            ROOT, RUN_TIMEOUT_S, env=jvm_env(), stdout=subprocess.PIPE, text=True)
        sys.stdout.write(out)
        if code != 0 or not os.path.exists(result):
            fail(f"benchmark JVM exited with code {code}")
        with open(result) as fh:
            line = fh.read().strip()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.exists(result):
            os.remove(result)
    print(line, flush=True)


if __name__ == "__main__":
    main()
