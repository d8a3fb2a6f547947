#!/usr/bin/env python3
"""Builds the library and the benchmark from source, then runs one workload.

    python3 perfbench/run.py --workload medallion --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of standard output is the JSON
result. The first run in a checkout builds with sbt (offline) into
`.bench_build/`; later runs reuse that build while the sources are unchanged
and start the JVM directly. Every run works in its own directory under
`.bench_build/tmp/` and deletes it on exit. `--pin` regenerates the pinned
query outputs instead of benchmarking (see README.md).
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(HERE, "data", "sf0.1")
WORKLOADS = ("medallion", "graph_dedup")
HEAP = "-Xmx3g"
RUN_TIMEOUT_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def build():
    """Returns (classpath, jvm options), building when the sources changed."""
    for f in ("build.sbt", os.path.join("src", "main", "scala", "graft", "GhcnPipeline.scala")):
        if not os.path.isfile(os.path.join(ROOT, f)):
            fail(f"{f} not found: run from the root of a full checkout of the repository")
    digest = hashlib.sha256()
    for f in source_files():
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = digest.hexdigest()
    launch = os.path.join(BUILD, "launch.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if not (os.path.isfile(launch) and os.path.isfile(stamp_file)
            and open(stamp_file).read() == stamp):
        os.makedirs(BUILD, exist_ok=True)
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
        t0 = time.time()
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "bench/launchFile"],
                           cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                           stdin=subprocess.DEVNULL, timeout=800)
        if r.returncode != 0:
            fail(f"sbt build failed with exit code {r.returncode}")
        shutil.copyfile(os.path.join(HERE, "target", "launch.txt"), launch)
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
        print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    with open(launch) as fh:
        lines = fh.read().splitlines()
    return lines[0], [l for l in lines[1:] if l]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    ap.add_argument("--pin", action="store_true",
                    help="regenerate data/sf0.1/pinned.tsv instead of benchmarking")
    a = ap.parse_args()
    if not a.pin and a.workload is None:
        fail("--workload is required")
    classpath, opts = build()

    tmp = os.path.join(BUILD, "tmp", f"run-{os.getpid()}")
    os.makedirs(os.path.join(tmp, "java"), exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, HEAP, f"-Djava.io.tmpdir={os.path.join(tmp, 'java')}", *opts,
           "-cp", classpath]
    if a.pin:
        cmd += ["perfbench.Pin", "--tmp", tmp, "--data", DATA]
        timeout = None
    else:
        trace_out = os.path.join(BUILD, "traces", f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
        cmd += ["perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", a.trace, "--tmp", tmp,
                "--data", DATA, "--trace-out", trace_out]
        timeout = RUN_TIMEOUT_S
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL)
    try:
        code = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {timeout} s")
    except BaseException:
        proc.kill()
        proc.wait()
        raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if code != 0:
        fail(f"benchmark JVM exited with code {code}")


if __name__ == "__main__":
    main()
