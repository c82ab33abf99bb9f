#!/usr/bin/env python3
"""Run one healthpipe benchmark workload and print its result.

Usage, from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: pipeline_full, board_cold (see
perfbench/README.md). The first call builds the engine and the harness
from source with sbt; later calls reuse the build while the sources are
unchanged. All build output, generated inputs and work files stay under
`.bench_build/` in the repository root.

The last stdout line is one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`. The exit code is 0 only when the
run finished and every output check passed.
"""
import argparse
import hashlib
import os
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("pipeline_full", "board_cold")
# The engine sources the harness compiles against; without them there
# is nothing to measure.
ENGINE_MARKERS = ("build.sbt", "src/main/scala/graft/health/HealthPipeline.scala",
                  "src/main/scala/graft/SparkEntry.scala")
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
HEAP = "3g"


def run_child(cmd, **kw):
    """Run `cmd` to completion; if this process is stopped first, stop the
    child and wait for it, so no process outlives the benchmark."""
    proc = subprocess.Popen(cmd, **kw)
    try:
        out, _ = proc.communicate()
        return proc.returncode, out
    finally:
        if proc.poll() is None:
            proc.terminate()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads, so an edit triggers a rebuild."""
    h = hashlib.sha256()
    for top in ("build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties",
                "perfbench/src"):
        path = os.path.join(ROOT, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt once; return the runtime classpath."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh:
                    return fh.read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx2g")
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        rc, out = run_child(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log, text=True,
            stdin=subprocess.DEVNULL)
        log.write(out)
    lines = [l for l in out.splitlines() if l.strip()]
    if rc != 0 or not lines or os.pathsep not in lines[-1]:
        fail(f"build failed, see {log_path}")
    classpath = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(classpath)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classpath


def main():
    # a stop request unwinds through run_child's cleanup
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    missing = [m for m in ENGINE_MARKERS if not os.path.isfile(os.path.join(ROOT, m))]
    if missing:
        fail(f"engine sources not found under {ROOT}: {', '.join(missing)}")

    classpath = build()
    work = os.path.join(BUILD, "work", f"{args.workload}-{args.seed}")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # heap pinned (-Xms = -Xmx) so peak RSS does not depend on when the
    # collector chose to grow the heap
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           "-Duser.timezone=UTC", "-Dspark.ui.enabled=false", f"-Dderby.system.home={tmp}"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace, "--work", work]
    rc, _ = run_child(cmd, cwd=ROOT, stdin=subprocess.DEVNULL)
    sys.exit(rc)


if __name__ == "__main__":
    main()
