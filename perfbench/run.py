#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload mr_jobs --seed 1 --seconds 10 --trace 0

Builds the engine and the harness (one sbt call, cached under
.bench_build/ until a source file changes), then launches the harness JVM
on local[nproc]. The harness prints progress lines and, last, one JSON
object: {"correct", "attempted", "failed", "metrics"}, with the metrics
BENCHMARK.json lists for the mode, under their names and units. This
wrapper exits non-zero on a failed build, a wrong output or a timeout.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
BUILD = ROOT / ".bench_build" / "perfbench"
WORKLOADS = ("mr_jobs", "corpus_dedup", "ann_serve", "stream_events")
DRIVER_HEAP = "2g"
BUILD_TIMEOUT_S = 700
# whole-command limits: a run that (re)builds first may take longer
RUN_TIMEOUT_S = 170
BUILD_RUN_TIMEOUT_S = 890

# Spark 4 on JDK 17 needs these when a session is created outside
# spark-submit (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every build input's path, size and mtime."""
    h = hashlib.sha256()
    inputs = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
              BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for tree in (ROOT / "src" / "main", BENCH / "src"):
        inputs += sorted(p for p in tree.rglob("*") if p.is_file())
    for p in inputs:
        st = p.stat()
        h.update(f"{p.relative_to(ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile engine + harness; return (runtime classpath, whether it built)."""
    for need in (ROOT / "build.sbt", ROOT / "src" / "main" / "scala",
                 BENCH / "build.sbt"):
        if not need.exists():
            fail(f"engine sources missing ({need.relative_to(ROOT)}); nothing to build")
    stamp = source_stamp()
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp.txt"
    if stamp_file.exists() and stamp_file.read_text() == stamp and cp_file.exists():
        return cp_file.read_text().strip(), False
    BUILD.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "-batch", "-Dsbt.offline=true", "-Dsbt.server.autostart=false",
           "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"]
    with open(BUILD / "build.log", "w") as log:
        proc = subprocess.Popen(cmd, cwd=BENCH, env=env, stdout=subprocess.PIPE,
                                stderr=log, text=True, stdin=subprocess.DEVNULL,
                                start_new_session=True)
        try:
            stdout, _ = proc.communicate(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"build exceeded {BUILD_TIMEOUT_S} s")
        log.write(stdout)
    lines = [l for l in stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        fail(f"build failed (exit {proc.returncode}); see {BUILD / 'build.log'}")
    cp = lines[-1].strip()
    if not all(Path(e).exists() for e in cp.split(os.pathsep)):
        fail("build did not export a usable classpath")
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    return cp, True


def metric_spec(trace):
    """`name<TAB>unit` lines of the metrics BENCHMARK.json lists for the mode."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return "".join(f"{m['name']}\t{m['unit']}\n"
                   for m in spec["per_layer" if trace else "end_to_end"])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    metrics = metric_spec(a.trace)

    t0 = time.monotonic()
    cp, built = build()
    cores = len(os.sched_getaffinity(0))
    work = BUILD / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        (work / d).mkdir(parents=True)
    (work / "metrics.tsv").write_text(metrics)
    java = ["java", f"-Xmx{DRIVER_HEAP}", f"-Xms{DRIVER_HEAP}", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={work / 'tmp'}", f"-Dgraft.scratch={work / 'scratch'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={work / 'spark-local'}",
            "-Dspark.sql.streaming.numRecentProgressUpdates=10000"]
    for p in ADD_OPENS:
        java += ["--add-opens", f"{p}=ALL-UNNAMED"]
    java += ["-cp", cp, "perfbench.PerfBench",
             "--workload", a.workload, "--seed", str(a.seed),
             "--seconds", str(a.seconds), "--trace", str(a.trace),
             "--cores", str(cores), "--heap", DRIVER_HEAP, "--work", str(work),
             "--metrics", str(work / "metrics.tsv")]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores),
               SPARK_LOCAL_DIRS=str(work / "spark-local"))
    env.pop("SPARK_GRAFT_CC_LOCAL_MAX", None)
    env.pop("SPARK_GRAFT_KNN_LOCAL_MAX", None)
    limit = BUILD_RUN_TIMEOUT_S if built else RUN_TIMEOUT_S
    budget = max(10.0, limit - (time.monotonic() - t0))
    last = None
    with open(work / "jvm.log", "w") as log:
        proc = subprocess.Popen(java, cwd=work, env=env, stdout=subprocess.PIPE,
                                stderr=log, text=True, stdin=subprocess.DEVNULL,
                                start_new_session=True)
        timed_out = threading.Event()

        def kill():
            timed_out.set()
            os.killpg(proc.pid, signal.SIGKILL)

        watchdog = threading.Timer(budget, kill)
        watchdog.start()
        try:
            for line in proc.stdout:
                line = line.rstrip("\n")
                if line.startswith("{") and '"metrics"' in line:
                    last = line
                else:
                    print(line, flush=True)
            rc = proc.wait()
        except KeyboardInterrupt:
            kill()
            proc.wait()
            raise
        finally:
            watchdog.cancel()
    if timed_out.is_set():
        fail(f"run exceeded {budget:.0f} s; JVM log kept at {work / 'jvm.log'}")
    if rc != 0 or last is None:
        tail = (work / "jvm.log").read_text().splitlines()[-30:]
        print("\n".join(tail), file=sys.stderr)
        fail(f"harness exited {rc}" + ("" if last else " without a result"), code=3)
    result = json.loads(last)
    shutil.rmtree(work, ignore_errors=True)
    print(last, flush=True)
    if not result["correct"]:
        sys.exit(1)


if __name__ == "__main__":
    main()
