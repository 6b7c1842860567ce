#!/usr/bin/env python3
"""Build the program with the benchmark, then run one workload.

    python3 perfbench/run.py --workload linkage --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run compiles the program's
sources together with the benchmark (sbt, offline) into the
repository's `target/` and `perfbench/target/` and records the classpath in
`.bench_build/`; later runs reuse it while no source or build file has
changed. The last line of standard output is the result JSON.
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
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("linkage", "ingest")
# A heap cap and no -Xms, so the resident set follows what the run
# allocates. Under the program's own cap (8g, build.sbt) G1 grows the heap by
# its GC-time heuristics and peak RSS spreads too widely to compare runs.
HEAP = "2g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

# Spark on JDK 17 outside spark-submit needs the module opens that
# spark-submit would inject (the program's own build passes the same).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def sources_digest():
    """Digest of every file the build reads from the repository."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for dirpath, dirnames, names in os.walk(r):
            dirnames[:] = sorted(d for d in dirnames if d not in ("target", "project"))
            files += [os.path.join(dirpath, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile if needed; return the runtime classpath."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    digest = sources_digest()
    if os.path.isfile(stamp_file) and os.path.isfile(cp_file):
        with open(stamp_file) as f:
            if f.read().strip() == digest:
                with open(cp_file) as c:
                    return c.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    cmd = ["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true",
           "compile", "export Runtime/fullClasspath"]
    try:
        p = subprocess.run(cmd, cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        sys.exit("perfbench: build timed out")
    lines = [l.strip() for l in p.stdout.splitlines() if l.strip()]
    cp = lines[-1] if lines else ""
    if p.returncode != 0 or "perfbench" not in cp or cp.startswith("["):
        sys.stderr.write(p.stdout[-6000:])
        sys.exit("perfbench: build failed")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(digest)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        sys.exit("perfbench: no program build (build.sbt) beside the benchmark")
    cp = build()
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace,
              "--work", work])
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, text=True)

    def stop(signum, frame):
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(f"perfbench: stopped by signal {signum}")
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit("perfbench: run timed out")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.stdout.write(out)
    last = out.strip().splitlines()[-1] if out.strip() else ""
    if proc.returncode != 0 or not last.startswith('{"correct"'):
        sys.exit(f"perfbench: run failed (exit {proc.returncode})")


if __name__ == "__main__":
    main()
