#!/usr/bin/env python3
"""Trading-ETL benchmark: run one workload and print its result.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload stream --seed 1 --seconds 15 --trace 0

The first run in a checkout builds the library and the harness from source
with sbt (offline). Each run starts one JVM (`perfbench.Main`), which does
all the work; this script builds, launches, enforces the time limit, and
turns the JVM's measurements into the final line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {name: {"value", "unit"}}}

With `--trace 0` the metrics are the end-to-end metrics of BENCHMARK.json;
with `--trace 1` they are its per-layer metrics, and the spans of the
traced pass are written to perfbench/out/trace-<workload>-seed<seed>.json.
See perfbench/README.md for the workloads and what each metric means.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(HERE, "target")
CLASSPATH_FILE = os.path.join(BUILD_DIR, "perfbench.classpath")
# Class-data-sharing archive of the classes a run loads, recorded at build
# time by one JVM that runs every workload's warm-up. It cuts JVM and Spark
# start-up in every run; the measured passes are unaffected.
CDS_ARCHIVE = os.path.join(BUILD_DIR, "perfbench.jsa")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
# A fixed heap and young generation: G1's adaptive sizing otherwise makes
# the peak resident set of identical runs differ by ~10%.
JVM_HEAP = ["-Xms3g", "-Xmx3g", "-Xmn768m"]
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


def sources():
    """Every file the build reads: the library's and the harness's."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return files


def build():
    """Compile and package the library and the harness, cache the runtime
    classpath, and record the class-data-sharing archive."""
    if os.path.exists(CLASSPATH_FILE):
        stamp = os.path.getmtime(CLASSPATH_FILE)
        if all(os.path.getmtime(f) <= stamp for f in sources()):
            return open(CLASSPATH_FILE).read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "package", "export Runtime/fullClasspathAsJars"]
    print("perfbench: building library and harness with sbt", file=sys.stderr)
    r = subprocess.run(cmd, cwd=HERE, env=env, capture_output=True, text=True,
                       timeout=BUILD_LIMIT_S, stdin=subprocess.DEVNULL)
    lines = [l for l in r.stdout.splitlines() if l and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail("build failed")
    cp = lines[-1]
    if os.path.exists(CDS_ARCHIVE):
        os.remove(CDS_ARCHIVE)
    work = os.path.join(HERE, ".work", f"prime-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    args = ["--mode", "prime", "--cores", str(len(os.sched_getaffinity(0))), "--work", work,
            "--data", os.path.join(HERE, "data", "sf0.01")]
    log = os.path.join(HERE, "out", "jvm-prime.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    rc = run_jvm(cp, args, work, log, time.monotonic() + BUILD_LIMIT_S,
                 [f"-XX:ArchiveClassesAtExit={CDS_ARCHIVE}"])
    shutil.rmtree(work, ignore_errors=True)
    if rc != 0:
        print(f"perfbench: class-data-sharing archive not recorded (exit {rc}); see {log}",
              file=sys.stderr)
    with open(CLASSPATH_FILE + ".tmp", "w") as f:
        f.write(cp + "\n")
    os.replace(CLASSPATH_FILE + ".tmp", CLASSPATH_FILE)
    return cp


def run_jvm(cp, args, work, log_path, deadline, jvm_flags=None):
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    if jvm_flags is None:
        jvm_flags = [f"-XX:SharedArchiveFile={CDS_ARCHIVE}"] if os.path.exists(CDS_ARCHIVE) else []
    cmd += jvm_flags + [
        # no hsperfdata file: it would go to the system temporary directory
        "-XX:-UsePerfData", *JVM_HEAP, f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "perfbench.Main"] + args
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)

        def stop(*_):
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()

        signal.signal(signal.SIGTERM, lambda *a: (stop(), sys.exit(3)))
        try:
            return p.wait(timeout=max(1, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            stop()
            return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    started = time.monotonic()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found at the checkout root")
    spec = json.load(open(spec_path))
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload!r}")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("library sources (src/main/scala/graft) not found: nothing to build")

    cp = build()
    deadline = time.monotonic() + RUN_LIMIT_S
    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result = os.path.join(work, "result.json")
    log = os.path.join(HERE, "out", f"jvm-{a.workload}-seed{a.seed}-trace{a.trace}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(len(os.sched_getaffinity(0))),
            "--work", work, "--result", result,
            "--data", os.path.join(HERE, "data", "sf0.01")]
    if a.trace:
        args += ["--spans", os.path.join(HERE, "out", f"trace-{a.workload}-seed{a.seed}.json")]
    try:
        rc = run_jvm(cp, args, work, log, deadline)
        if rc != 0 or not os.path.exists(result):
            sys.stderr.write("".join(open(log).readlines()[-60:]))
            fail(f"workload run failed (exit {rc}); log: {log}")
        got = json.load(open(result))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    declared = spec["per_layer"] if a.trace else spec["end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}
    extra = sorted(set(got["metrics"]) - set(units))
    if extra:
        fail(f"measured metrics missing from BENCHMARK.json: {extra}")
    if not a.trace and set(units) - set(got["metrics"]):
        fail(f"end-to-end metrics not measured: {sorted(set(units) - set(got['metrics']))}")
    # A traced run reports every per-layer metric; a layer the workload
    # never calls did no work, and reads 0.
    metrics = {n: {"value": float(got["metrics"].get(n, 0.0)), "unit": u} for n, u in units.items()}
    print(f"perfbench: {a.workload} seed {a.seed} finished in "
          f"{time.monotonic() - started:.1f} s", file=sys.stderr)
    print(json.dumps({"correct": bool(got["correct"]), "attempted": int(got["attempted"]),
                      "failed": int(got["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
