#!/usr/bin/env python3
"""RAG serving benchmark: build the engine from this checkout, run one workload.

    python3 perfbench/run.py --workload chat_fanout --seed 1 --seconds 10 --trace 0

Builds `perfbench/` (an sbt project compiling the repository's
`src/main/scala` together with the benchmark code) when the sources
changed since the last build, then starts one JVM running
`perfbench.Main`. Every line the benchmark prints goes to stdout; the last
line is the result object {"correct", "attempted", "failed", "metrics"}.
Spans and per-run reports land in `perfbench/out/`. Scratch data lives in
`perfbench/.work/` and is removed when the run ends.
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
ENGINE_SRC = os.path.join(ROOT, "src", "main")
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "build.stamp")
WORKLOADS = ("chat_fanout", "chat_deep")

RUN_LIMIT_S = 175  # a run must end within 180 s
BUILD_LIMIT_S = 880  # the first run in a checkout builds first (900 s)

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build: engine sources and the benchmark."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout or
    interruption and wait for it, so nothing outlives the benchmark."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except BaseException:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        raise


def build(deadline):
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == stamp:
                return
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        repos = os.path.join(os.path.expanduser("~"), ".sbt", "repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    cmd = [sbt, "--batch", "-Dsbt.log.noformat=true",
           f"-Dsbt.global.base={os.path.join(HERE, '.sbt-global')}",
           "compile", "writeClasspath"]
    print("perfbench: building engine and benchmark (sbt compile)", file=sys.stderr)
    code, _ = run_group(cmd, max(1, deadline - time.time()), cwd=HERE, env=env,
                        stdout=sys.stderr, stderr=sys.stderr)
    if code != 0 or not os.path.exists(CLASSPATH):
        fail(f"build failed (sbt exit {code})", 1)
    with open(STAMP, "w") as f:
        f.write(stamp + "\n")


def valid_result(line):
    try:
        r = json.loads(line)
    except ValueError:
        return False
    return (isinstance(r, dict) and set(r) == {"correct", "attempted", "failed", "metrics"}
            and isinstance(r["attempted"], int) and r["attempted"] >= 1)


def main():
    # a terminated run stops its children too (see run_group)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    start = time.time()
    if not os.path.isdir(os.path.join(os.environ.get("SPARK_HOME", ""), "jars")):
        fail("SPARK_HOME must name the Spark installation the engine builds against")
    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala")):
        fail(f"engine sources not found under {os.path.relpath(ENGINE_SRC)}; "
             "run from a full checkout of the repository")
    built_before = os.path.exists(CLASSPATH)
    build(start + BUILD_LIMIT_S)
    # a run that had to build may use what is left of the first-run allowance
    limit = (start + BUILD_LIMIT_S if not built_before else start + RUN_LIMIT_S) - time.time()

    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-Xmx3g", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
              f"-XX:ErrorFile={os.path.join(work, 'hs_err_%p.log')}",
              "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--out", os.path.join(HERE, "out")])
    try:
        code, out = run_group(cmd, max(1.0, limit), cwd=ROOT, stdout=subprocess.PIPE,
                              stderr=sys.stderr, text=True)
    except subprocess.TimeoutExpired:
        fail("run exceeded its time limit", 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
        except OSError:
            pass
    lines = out.rstrip("\n").split("\n") if out else []
    if code != 0 or not lines or not valid_result(lines[-1]):
        sys.stderr.write("".join(line + "\n" for line in lines))
        fail(f"benchmark exited with code {code} without a result", 1)
    sys.stdout.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    main()
