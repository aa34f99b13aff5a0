#!/usr/bin/env python3
"""Benchmark entry point: builds the library and the benchmark from source,
then runs one workload in a fresh JVM and relays its result line.

    python3 perfbench/run.py --workload batch-train --seed 1 --seconds 10 --trace 0

Workloads: batch-train, stream, registry (see perfbench/README.md).
The last line printed is one JSON object with the keys correct, attempted,
failed and metrics. The exit code is 0 only when every output check passed.

    python3 perfbench/run.py --pin-registry   # rewrite perfbench/registry.tsv

Everything the benchmark writes stays under perfbench/.work.
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
WORK = os.path.join(HERE, ".work")
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "2g"
WORKLOADS = ("batch-train", "stream", "registry")

# Spark on JDK 17 outside spark-submit needs these (the same list as the
# library's build.sbt).
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


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation found (set SPARK_HOME)")
    return home


def source_digest():
    """Hash of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [LIB_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Runs cmd in its own process group; on timeout kills the whole group
    and waits for it. Returns (returncode, stdout text)."""
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, start_new_session=True, text=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        out, _ = p.communicate()
        return None, out
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    return p.returncode, out


def classpath(env):
    """Builds with sbt when the sources changed since the last build and
    returns the runtime classpath."""
    stamp = os.path.join(WORK, "build.stamp")
    digest = source_digest()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            lines = fh.read().splitlines()
        if len(lines) == 2 and lines[0] == digest:
            return lines[1]
    sbt = shutil.which("sbt")
    if not sbt:
        fail("sbt not found on PATH")
    print("perfbench: building (sbt compile)", file=sys.stderr)
    rc, out = run_bounded(
        [sbt, "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         f"-J-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}", "-J-XX:-UsePerfData",
         "compile", "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=HERE, env=env, stdin=subprocess.DEVNULL)
    lines = [l for l in (out or "").splitlines() if l.strip()]
    if rc != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write(out or "")
        fail(f"build failed (exit {rc})")
    cp = lines[-1].strip()
    with open(stamp, "w") as fh:
        fh.write(digest + "\n" + cp + "\n")
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin-registry", action="store_true")
    a = ap.parse_args()
    if not a.pin_registry and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")
    if not os.path.isdir(LIB_SRC):
        fail(f"library sources not found at {os.path.relpath(LIB_SRC, os.getcwd())}")

    for d in ("tmp", "index", "spark-local"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    env.setdefault("COURSIER_MODE", "offline")
    env["SPARK_GRAFT_INDEX_ROOT"] = os.path.join(WORK, "index")
    env["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    cp = classpath(env)

    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else shutil.which("java")
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--home", HERE]
    if a.pin_registry:
        cmd += ["--pin-registry"]
        timeout = 3600
    else:
        cmd += ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace)]
        timeout = RUN_TIMEOUT_S
    rc, out = run_bounded(cmd, timeout, cwd=WORK, env=env, stdin=subprocess.DEVNULL)
    lines = (out or "").splitlines()
    if rc is None:
        sys.stdout.write("\n".join(lines[:-1]) + "\n" if lines else "")
        fail(f"run exceeded {timeout} s and was stopped")
    if not a.pin_registry and (not lines or not lines[-1].startswith("{")):
        sys.stdout.write(out or "")
        fail(f"run ended without a result (exit {rc})")
    sys.stdout.write(out)
    sys.stdout.flush()
    sys.exit(rc)


if __name__ == "__main__":
    main()
