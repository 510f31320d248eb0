#!/usr/bin/env python3
"""Stream benchmark of StreamingJobs.fullChain.

Run from the repository root:

    python3 streambench/run.py --workload trickle_leaf --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source on first use (sbt, offline,
into the repository's own target directories), then runs one workload in a
fresh JVM. Spark logs and progress go to stderr; the last stdout line is the
result JSON. The full record of the run is kept under
.bench_build/records/. See streambench/README.md for the workloads, metrics
and checks.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build")
BUILD_LIMIT_S = 840
RUN_LIMIT_S = 175
JVM_HEAP = "3g"

# java.base packages Spark needs opened on JDK 17 (the list spark-submit
# passes; the engine's build.sbt uses the same one for forked runs)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[streambench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Digest of every input of the build: engine and benchmark sources and
    their build definitions."""
    h = hashlib.sha256()
    tops = ["build.sbt", "project", "src/main", "streambench"]
    for top in tops:
        base = os.path.join(ROOT, top)
        if os.path.isfile(base):
            paths = [base]
        else:
            paths = []
            for d, dirs, files in os.walk(base):
                dirs[:] = sorted(x for x in dirs if x != "target")
                paths += [os.path.join(d, f) for f in files]
        for p in sorted(paths):
            if p.endswith((".scala", ".sbt", ".properties")):
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compiles with sbt when the sources changed; returns the classpath."""
    stamp_file = os.path.join(OUT, "build.stamp")
    cp_file = os.path.join(OUT, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    for needed in ("build.sbt", "src/main"):
        if not os.path.exists(os.path.join(ROOT, needed)):
            sys.exit(f"streambench: {needed} not found; run from the repository root")
    log("building engine and benchmark with sbt")
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true",
         "export streambench/Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
        text=True, timeout=BUILD_LIMIT_S)
    lines = [x for x in proc.stdout.splitlines() if x.strip()]
    if proc.returncode != 0 or not lines or lines[-1].startswith("["):
        for x in lines:
            if x.startswith("["):
                print(x, file=sys.stderr)
        sys.exit(f"streambench: build failed (sbt exit {proc.returncode})")
    cp = lines[-1].strip()
    os.makedirs(OUT, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = build()
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = os.path.join(OUT, "work", f"{tag}-{os.getpid()}")
    record = os.path.join(OUT, "records", f"{tag}.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}",
            "-XX:-UsePerfData"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.streambench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", work, "--record", record])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(f"streambench: run exceeded {RUN_LIMIT_S} s")
    shutil.rmtree(work, ignore_errors=True)
    lines = [x for x in out.splitlines() if x.strip()]
    if proc.returncode != 0 or not lines:
        for x in lines:
            print(x, file=sys.stderr)
        sys.exit(f"streambench: run failed (exit {proc.returncode})")
    log(f"record: {os.path.relpath(record, ROOT)}")
    print(lines[-1], flush=True)


if __name__ == "__main__":
    main()
