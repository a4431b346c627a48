#!/usr/bin/env python3
"""Build graft from this checkout's sources and run one benchmark workload.

Usage (from the repository root):

    python3 perfbench/run.py --workload lakehouse_cdc --seed 1 --seconds 6 --trace 0

The first run in a checkout compiles the benchmark together with the
repository's `src/main` (sbt, offline); later runs reuse the classes
until a source file changes. Everything the run writes stays under
`.bench_build/perfbench/` (build stamp, work tables, results) and
`perfbench/target/` (sbt output). The last line of stdout is the JSON
result.
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
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("lakehouse_cdc", "stream_medallion", "llm_curation")
BUILD_TIMEOUT_S = 800
RUN_TIMEOUT_S = 170
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p, p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return p, None


def build():
    """Compile with sbt when the sources changed; return the classpath."""
    stamp = os.path.join(STATE, "build.stamp")
    cp_file = os.path.join(STATE, "classpath.txt")
    fp = fingerprint()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read() == fp:
                with open(cp_file) as f:
                    return f.read()
    os.makedirs(STATE, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=(
        "-Dsbt.override.build.repos=true "
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
        " -Dsbt.offline=true -Xmx2g"))
    log_path = os.path.join(STATE, "build.log")
    with open(log_path, "w") as log:
        _, code = run_bounded(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=log,
            stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    with open(log_path) as f:
        out = f.read()
    cp = [l for l in out.splitlines() if "target/scala-2.13/classes" in l
          and not l.startswith("[")]
    if code != 0 or not cp:
        sys.stderr.write(out[-4000:])
        fail(f"build failed (exit {code}); see {log_path}", 3)
    with open(cp_file, "w") as f:
        f.write(cp[-1].strip())
    with open(stamp, "w") as f:
        f.write(fp)
    return cp[-1].strip()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no graft sources under {ROOT}/src/main/scala/graft")
    cp = build()

    work = os.path.join(STATE, "work", str(os.getpid()))
    results = os.path.join(STATE, "results")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # The young generation is capped at 96 MB: uncapped, some whole runs of
    # lakehouse_cdc came out ~1.5x slower than the rest on a shared 4-core
    # VM; capped, such runs were rarer and less slow (README, Steadiness).
    cmd = (["java", "-Xmx2g", "-XX:MaxNewSize=96m"] +
           [x for p in JAVA_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] +
           ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dderby.system.home=" + work,
            "-cp", cp, "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--work", work, "--results", results])
    try:
        _, code = run_bounded(cmd, RUN_TIMEOUT_S, cwd=work,
                              stdin=subprocess.DEVNULL)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code is None:
        fail(f"run exceeded {RUN_TIMEOUT_S} s and was killed", 4)
    sys.exit(code)


if __name__ == "__main__":
    main()
