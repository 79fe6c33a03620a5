#!/usr/bin/env python3
"""Run one benchmark workload against the engine in the parent directory.

    python3 perfbench/run.py --workload etl_monthly --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source with sbt when the sources
changed since the last build (the first run in a checkout builds), then
launches one JVM that runs the workload and prints, as the last line of
standard output, one JSON object with the keys correct, attempted, failed
and metrics. Everything the run writes stays under .bench_build/ in the
checkout; the run's warehouse and scratch directories are removed when it
ends. Traced runs (--trace 1) also leave a span file under
.bench_build/perfbench/traces/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("etl_monthly", "serve_dashboard")
# Spark on JDK 17 outside spark-submit needs the module opens spark-submit
# would pass (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Content hash of every file the build reads from the checkout."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; return the classpath."""
    cp_file = os.path.join(STATE, "classpath.txt")
    stamp_file = os.path.join(STATE, "stamp.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f, open(cp_file) as g:
            same, cp = f.read() == stamp, g.read()
        # the classes live in the sbt target directories, which a clean
        # removes without touching the sources
        if same and all(os.path.exists(e) for e in cp.split(os.pathsep)):
            return cp
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.log.noformat=true", "-Dsbt.offline=true",
            "-Dsbt.server.forcestart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    t0 = time.time()
    p = subprocess.run([sbt, "--batch"] + opts +
                       ["export perfbench/Runtime/fullClasspath"],
                       cwd=HERE, env=env, capture_output=True, text=True,
                       timeout=BUILD_TIMEOUT_S)
    lines = [l.strip() for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail(f"build failed (rc={p.returncode})")
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    os.makedirs(STATE, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


T0 = time.time()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no engine sources next to {HERE}: expected ../build.sbt and ../src/main/scala")
    cp = build()

    tag = f"{a.workload}-seed{a.seed}-{os.getpid()}-{int(time.time())}"
    work = os.path.join(STATE, "runs", tag)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    trace_out = os.path.join(STATE, "traces", f"{tag}.json")
    # the heap stays small: the box is shared and the inputs are sized
    # to sit well inside it
    cmd = (["java", "-Xmx3g", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", cp, "perfbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--trace-out", trace_out])
    log = os.path.join(STATE, "logs", f"{tag}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    try:
        with open(log, "w") as lf:
            p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE,
                                 stderr=lf, text=True)
            try:
                out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                fail(f"workload did not finish within {RUN_TIMEOUT_S} s (log: {log})")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(log) as lf:
        for line in lf:
            if line.startswith("perfbench:"):
                sys.stderr.write(line)
    results = [l for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if p.returncode != 0 or not results:
        fail(f"workload failed (rc={p.returncode}, log: {log})")
    result = json.loads(results[-1][len("PERFBENCH_RESULT "):])
    print(f"perfbench: run took {time.time() - T0:.1f} s", file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
