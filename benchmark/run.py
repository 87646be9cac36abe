#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print its result.

    python3 benchmark/run.py --workload cube_dashboard --seed 1 --seconds 15 --trace 0

Run from the repository root. The first run builds graft and the benchmark
driver with sbt (the benchmark's own build in benchmark/ depends on the
repository's build) and keeps the launch arguments in the build directory
($CARGO_TARGET_DIR, default .bench_build); later runs start one plain JVM.
The last line of standard output is the result JSON. Traced runs
(--trace 1) also write their spans to <build dir>/trace/<workload>-<seed>.json.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("cube_dashboard", "cube_ingest", "corpus_pipeline")
HEAP = "2g"
RUN_TIMEOUT_S = 170


def fail(msg, code=2):
    print(f"benchmark: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, for the build stamp."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)]
    return files


def stamp():
    h = hashlib.sha256()
    for f in sources():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(build_dir):
    """Compile with sbt unless the sources match the last build."""
    launch = os.path.join(build_dir, "launch.args")
    stamp_file = os.path.join(build_dir, "build.stamp")
    want = stamp()
    if os.path.exists(launch) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == want:
                return launch
    os.makedirs(build_dir, exist_ok=True)
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt is not on PATH")
    # sbt's output goes to stderr: stdout carries only the result
    done = subprocess.run([sbt, "-batch", "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "launchFile"],
                          cwd=HERE, stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    if done.returncode != 0:
        fail(f"build failed (sbt exit {done.returncode})", 1)
    shutil.copyfile(os.path.join(HERE, "target", "launch.args"), launch)
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return launch


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("graft's sources (build.sbt, src/main/scala/graft) are not next to the benchmark")
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    launch = build(build_dir)
    cmd = ["java", "@" + launch, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Duser.timezone=UTC",
           "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace), "--out", build_dir]
    try:
        done = subprocess.run(cmd, cwd=ROOT, timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 1)
    sys.exit(done.returncode)


if __name__ == "__main__":
    main()
